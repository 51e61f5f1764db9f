package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale text corpora (SURVEY §2.5 E1/E2).
  *
  * Scale design (100 TB posture):
  *  - exact dedup is a hash shuffle on the dedup key — Spark's
  *    `dropDuplicates`, no driver state;
  *  - near-dup goes shingle → MinHash signature (one per-doc min) →
  *    LSH banding (explode k/r rows per doc) → bucket grouping. Only
  *    docs sharing a band bucket are ever paired, so the quadratic
  *    explosion of naive all-pairs never materializes; skewed buckets
  *    (boilerplate shingles) are bounded by `maxBucket`;
  *  - SimHash packs a document into one 64-bit key; near-dups are found
  *    by banding the 64 bits into chunks (pigeonhole: hamming ≤ k ⇒ some
  *    chunk equal) — same join discipline.
  *
  * Everything is expressed with codegen'd built-ins + higher-order
  * functions — no Scala UDF in any per-row path.
  */
object Dedup {

  /** E1: exact dedup — distributed hash-shuffle on the key columns. */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Canonical exact-dup groups: smallest id survives, group size kept. */
  def exactGroups(df: DataFrame, key: String, idCol: String): DataFrame =
    df.groupBy(col(key))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct n-word shingles of a whitespace-tokenized text column.
    * Documents shorter than n words yield the whole text as one shingle. */
  def shingles(text: Column, n: Int = 3): Column = {
    val words = split(text, " ")
    val grams = transform(
      sequence(lit(1), greatest(size(words) - (n - 1), lit(1))),
      i => concat_ws(" ", (0 until n).map(j => try_element_at(words, i + j)): _*))
    array_distinct(grams)
  }

  /** Hashed shingles via the native [[graft.functions.ShingleHashes]]
    * expression: each n-gram's byte range is xxhash64'd in place — no
    * string allocation, no HOF, so the enclosing projection stays in
    * whole-stage codegen (any HOF would kick the whole stage out).
    * Keeps duplicate shingles (a multiset, one hash per n-gram
    * position); `array_distinct` the result where set semantics matter.
    * After dedup it equals `transform(shingles(text,n), xxhash64)`
    * element-for-element ([[shingles]] dedups internally). */
  def shingleHashes(text: Column, n: Int = 3): Column =
    call_function("graft_shingle_hashes", text, lit(n))

  /** Engine-neutral 60-bit hash: int64 of the first 15 hex chars of
    * md5(input) — stateable identically in Spark and DuckDB
    * (`CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)`), positive, so
    * ANSI-safe. The bridge that lets sketch pipelines be hash-checked by
    * the external oracle instead of declared rows-only.
    *
    * Native since r21 ([[graft.functions.PortableValueHash60]],
    * bit-identical to the old `conv(substring(md5(c),1,15),16,10)` —
    * property-tested in GraftFunctionsSpec): one md5 straight into a
    * long, no intermediate hex/substring/decimal strings, and an
    * efficient INTERPRETED path for when the hash lands inside an
    * `ObjectHashAggregate` input (the e71/e72 sketch shape). Built
    * directly as an expression — no session registry needed. */
  def portableHash64(c: Column): Column =
    org.apache.spark.sql.GraftColumns.column(
      graft.functions.PortableValueHash60(
        org.apache.spark.sql.GraftColumns.expression(c)))

  /** The affine min-hash family shared with the external oracle:
    * p is prime just under 2²⁴, the base hash is the top 24 bits of
    * md5(s), and family j is h_j = (a_j·h + b_j) mod p. Every product
    * stays under 2⁴⁸, so int64 arithmetic is exact (and ANSI-safe) in
    * any engine. Constants are drawn once from a fixed seed and baked
    * into both the Spark plan and the oracle SQL. */
  final val PortableP = 16777213L
  def portableFamily(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(20240612L)
    Seq.fill(k)((1L + rnd.nextInt((PortableP - 1).toInt).toLong,
      rnd.nextInt(PortableP.toInt).toLong))
  }

  /** 24-bit engine-neutral base hash: int64 of the first 6 hex chars of
    * md5(input). Native since r21 — see [[portableHash64]]. */
  def portableHash24(c: Column): Column =
    org.apache.spark.sql.GraftColumns.column(
      graft.functions.PortableValueHash24(
        org.apache.spark.sql.GraftColumns.expression(c)))

  /** E2: MinHash-LSH candidate pairs with estimated Jaccard — shingle →
    * k-min signature → banded bucket grouping, with the engine-neutral
    * [[portableFamily]] (ONE md5 per shingle, k exact affine mixes) so
    * DuckDB can restate the whole pipeline and the candidate set is
    * hash-checked against it.
    *
    * @param maxBucket skew guard: buckets larger than this (shared
    *                  boilerplate) are dropped rather than paired — at
    *                  scale this bounds the worst-case pair count.
    *
    * Plan shape is also the scale shape: shingles explode once, the k
    * family hashes are k plain codegen'd columns (no HOF), signatures are
    * k map-side `min` partial aggregates (one shuffle on doc), band keys
    * are signature slices, each (band, key) bucket is grouped once (one
    * shuffle on the key, no join) and its strictly-ordered pairs are
    * expanded in-row, and oversized buckets are dropped by `maxBucket`. */
  def minhashCandidatesPortable(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, shingleWidth: Int = 3,
      minEstSim: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val sig = portableSignatures(df, idCol, textCol, k, shingleWidth)
    val banded = portableBandKeys(sig, k, bands)
    // Bucket-grouped pair expansion (r22). The old pruned⋈pruned LSH
    // self-join re-instantiated the ENTIRE shingle→signature→band front
    // on both join sides (a self-join duplicates lineage; nothing dedups
    // the common subplan) and needed a Window pass just to size buckets
    // for the maxBucket prune. Grouping each (band, key) bucket once
    // computes the front ONCE, sizes the bucket for free, and emits the
    // strictly-ordered pairs from the grouped row — the per-bucket n²
    // stays bounded by maxBucket exactly as before, and the Generate
    // pipeline streams pairs without buffering them. est_sim is computed
    // and thresholded BEFORE the pair distinct, so the one remaining
    // wide exchange carries (doc1, doc2, est_sim) instead of two k-long
    // signatures per surviving row (§2: shuffle fewer bytes).
    val buckets = banded
      .groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("doc"), col("sig"))).as("members"))
      .filter(size(col("members")) <= maxBucket)
    buckets
      .select(explode(col("members")).as("x"), col("members"))
      .select(col("x"), explode(filter(col("members"),
        m => m.getField("doc") > col("x").getField("doc"))).as("y"))
      .select(col("x").getField("doc").as("doc1"),
        col("y").getField("doc").as("doc2"),
        (size(filter(zip_with(col("x").getField("sig"), col("y").getField("sig"),
          (a, b) => a === b), z => z)).cast(DoubleType) / k).as("est_sim"))
      .filter(col("est_sim") >= minEstSim)
      .dropDuplicates("doc1", "doc2")
  }

  /** The portable signature front shared by [[minhashCandidatesPortable]]
    * and the incremental-dedup index: `(doc, sig)` with the
    * engine-neutral md5-24 shingle hash (native fused pass — the
    * interpreted HOF string explode + md5 + conv chain was the
    * pipeline's dominant cost) and the fixed affine family. ONE
    * exchange (the per-doc min agg, map-side partial). */
  private[ext] def portableSignatures(df: DataFrame, idCol: String,
      textCol: String, k: Int, shingleWidth: Int): DataFrame = {
    val fam = portableFamily(k)
    // r21 note: an Adaptive.fanOutSmall here was MEASURED SLOWER on the
    // pipeline queries (e27/e35/e38 +0.6-1.7 s): the shingle front's
    // map-side partial min-agg already collapses each task's rows to one
    // partial per doc, so the extra exchange cost more than the
    // parallelism bought. Left as-is deliberately.
    val tok = df.select(col(idCol).as("doc"),
      explode(call_function("graft_portable_shingles",
        col(textCol), lit(shingleWidth))).as("h"))
    tok
      .select(col("doc") +: (0 until k).map { j =>
        val (a, b) = fam(j)
        ((lit(a) * col("h") + lit(b)) % PortableP).as(s"h$j")
      }: _*)
      .groupBy(col("doc"))
      .agg(min(col("h0")).as("m0"),
        (1 until k).map(j => min(col(s"h$j")).as(s"m$j")): _*)
      .select(col("doc"), array((0 until k).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** LSH band keys of a signature frame: `(doc, sig, band, key)`, one
    * row per band, key = the band's signature slice. Map-only. */
  private[ext] def portableBandKeys(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    sig.select(col("doc"), col("sig"),
      posexplode(array((0 until bands).map(b => slice(col("sig"), b * r + 1, r)): _*))
        .as(Seq("band", "key")))
  }

  // ---- E1/E2 lifecycle: the PERSISTED dedup index (build once, dedup
  // every future ingest batch against it — the corpus text is hashed
  // exactly once, ever) ----

  final case class DedupIndexMeta(k: Int, bands: Int, shingleWidth: Int,
      maxBucket: Int)

  /** Handles to a loaded dedup index: `meta` lives on the driver (one
    * row); the three tables stay LAZY parquet scans — loading an index
    * over a 100 TB corpus reads nothing until a batch joins it. */
  final case class DedupIndex(meta: DedupIndexMeta, signatures: DataFrame,
      bandKeys: DataFrame, fingerprints: DataFrame)

  /** Build the persisted dedup index for a corpus: exact fingerprints
    * (md5 of the case-folded text — 16 bytes/doc), portable MinHash
    * signatures, and the pre-banded LSH keys, each as a parquet table
    * under `dir`. The signature pass runs ONCE (band keys derive from
    * the written signatures table, not a recompute); the build-time
    * `maxBucket` prune drops boilerplate buckets from the index so no
    * future batch can join into a skew bucket. This is [[Similarity]]'s
    * build/serve split applied to dedup: the alternative — re-running
    * [[minhashCandidatesPortable]] over corpus ∪ batch per ingest —
    * re-hashes the full corpus text every batch. */
  def buildDedupIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, k: Int = 32, bands: Int = 8, shingleWidth: Int = 3,
      maxBucket: Int = 1000): Unit = {
    require(k % bands == 0, "k must be divisible by bands")
    val spark = docs.sparkSession
    import spark.implicits._
    // two independent action chains (guide §2.6): {signatures → bands}
    // must stay ordered (bands re-derive from the PERSISTED signatures),
    // but the fingerprint pass reads the raw docs — overlapping them
    // back-fills the signature chain's task tails instead of idling
    // through sequential job gaps. The meta write is SEQUENTIAL and LAST
    // (ADVICE r21): the build path has no ledger, so meta presence is
    // the build-complete marker a later loadDedupIndex relies on — a
    // crash mid-build must not leave a complete meta next to partial
    // data tables. It is a driver-local one-row write; the cost is
    // negligible.
    ConcurrentActions.inParallel(
      () => {
        portableSignatures(docs, idCol, textCol, k, shingleWidth)
          .write.mode("overwrite").parquet(s"$dir/signatures")
        val sigT = spark.read.parquet(s"$dir/signatures")
        portableBandKeys(sigT, k, bands)
          .withColumn("bucket_n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("key"))))
          .filter(col("bucket_n") <= maxBucket)
          .select(col("band"), col("key"), col("doc"))
          .write.mode("overwrite").parquet(s"$dir/bands")
      },
      () => docs.select(col(idCol).as("doc"), md5(lower(col(textCol))).as("fp"))
        .write.mode("overwrite").parquet(s"$dir/fingerprints"))
    Seq((k, bands, shingleWidth, maxBucket))
      .toDF("k", "bands", "shingle_width", "max_bucket")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The generation ledger of committed index appends: generation dirs
    * `appends__b<id>` + one-object ledger `appends__stream_commits`
    * under the index dir, driven by [[graft.streaming.Generations]]
    * (single atomic PUT on a real object store), so a crash mid-append
    * can never publish a partial three-table generation. */
  private def appends(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.streaming.Generations(spark, new org.apache.hadoop.fs.Path(s"$dir/appends"))

  /** The build's base tables: what a compaction folds and vacuum
    * reclaims (`meta` stays — the dir remains self-describing). */
  private def baseTables(dir: String) =
    Seq("signatures", "bands", "fingerprints").map(t => new org.apache.hadoop.fs.Path(s"$dir/$t"))

  /** Committed append history of a persisted dedup index — (generation
    * id, is-compaction, stream watermarks) in id order; the snapshot
    * catalog for [[loadDedupIndex]]'s `asOfGen` time travel
    * ([[graft.streaming.Generations.history]]). */
  def indexHistory(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, Boolean, Map[String, Long])] =
    appends(spark, dir).history

  /** Write the folded tables of `idx` to `outDir` — signatures are the
    * source of truth, band keys re-derive under the GLOBAL `maxBucket`
    * prune, no text re-hash (see [[compactDedupIndex]]). */
  private def writeCompacted(spark: org.apache.spark.sql.SparkSession,
      idx: DedupIndex, outDir: String): Unit = {
    import spark.implicits._
    // same §2.6 overlap as buildDedupIndex: the {signatures → bands}
    // chain stays ordered, fingerprints/meta fold concurrently
    ConcurrentActions.inParallel(
      () => {
        idx.signatures.write.mode("overwrite").parquet(s"$outDir/signatures")
        val sigT = spark.read.parquet(s"$outDir/signatures")
        portableBandKeys(sigT, idx.meta.k, idx.meta.bands)
          .withColumn("bucket_n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("key"))))
          .filter(col("bucket_n") <= idx.meta.maxBucket)
          .select(col("band"), col("key"), col("doc"))
          .write.mode("overwrite").parquet(s"$outDir/bands")
      },
      () => idx.fingerprints.write.mode("overwrite").parquet(s"$outDir/fingerprints"),
      () => Seq((idx.meta.k, idx.meta.bands, idx.meta.shingleWidth, idx.meta.maxBucket))
        .toDF("k", "bands", "shingle_width", "max_bucket")
        .write.mode("overwrite").parquet(s"$outDir/meta"))
  }

  /** Compact an appended index WITHOUT re-hashing any text: the
    * persisted signatures are the source of truth (band keys re-derive
    * from them, fingerprints and meta copy), so a corpus that took a
    * full linear text pass to index compacts in index-size time. Closes
    * the two accumulation debts of the append path in one move: the
    * per-append generation dirs fold into one (bounded file count
    * again), and the build-time `maxBucket` prune re-applies over the
    * GLOBAL bucket counts — appended band keys bypass it (documented on
    * [[appendToDedupIndex]]), so a boilerplate bucket that grew past the
    * bound across many appends is dropped here exactly as a fresh build
    * would drop it. The result is equivalent to `buildDedupIndex` over
    * the full corpus (spec-proven: the portable signature chain is
    * deterministic).
    *
    * IN-PLACE and crash-safe: fold the base tables and every
    * committed append generation into ONE new COMPACTION generation
    * under the same index dir, promoted by the single atomic ledger PUT
    * an append uses and carrying the folded stream watermarks forward
    * ([[graft.streaming.Generations.compact]], which states the crash
    * windows). Readers ([[loadDedupIndex]]) resolve the newest committed
    * compaction as the new base; the subsumed base tables and
    * generations stay on disk — readers holding a pre-compaction
    * snapshot keep serving — until [[vacuumDedupIndex]] reclaims them.
    * Single-maintainer contract as the append side. */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val idx = loadDedupIndex(spark, dir)
    appends(spark, dir).compact()(gen => writeCompacted(spark, idx, gen.toString))
  }

  /** Reclaim structures subsumed by the newest committed compaction:
    * the base tables (signatures/bands/fingerprints — `meta` stays, the
    * index dir remains self-describing and meta is immutable) and every
    * earlier generation dir ([[graft.streaming.Generations.vacuum]]).
    * Do NOT run while a reader still holds a PRE-compaction snapshot:
    * its lazy scans pin the old dirs. No-op when no compaction has
    * committed. */
  def vacuumDedupIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    appends(spark, dir).vacuum(baseTables(dir))

  /** Load a [[buildDedupIndex]] directory: one driver row for the meta,
    * lazy scans for everything else. Each table is the base plus every
    * LEDGER-COMMITTED append generation (uncommitted / crash-partial
    * generations are invisible); a pre-ledger index (no appends ever
    * committed) reads the base tables alone. When a committed
    * COMPACTION generation exists ([[compactDedupIndex]] in-place), it
    * IS the base — the original base tables and all earlier generations
    * are ignored (and may already be [[vacuumDedupIndex]]ed away).
    *
    * `beforeBatch` (exclusive, scoped by `lineage`) loads the index
    * state as of a STREAM micro-batch: generations whose stream tag in
    * this lineage is ≥ `beforeBatch` are excluded; untagged generations
    * (manual appends, the build base) always resolve. This is the
    * replay contract for micro-batch-keyed ingest (e54): a replayed
    * batch N re-derives its verdicts against exactly the index it saw
    * the first time — everything EXCEPT stream admissions ≥ N — even
    * though its own admission is already committed. Stream batch ids
    * are carried as per-generation tags, NOT as generation ids, so the
    * time travel composes with manual appends and compaction (a
    * compaction carries forward the folded watermarks; asking for a
    * state older than the newest fold fails loudly — it cannot be
    * reconstructed).
    *
    * `asOfGen` (inclusive) is GENERATION time travel: load the snapshot
    * as of append generation `g` — the base plus committed generations
    * with id ≤ g, compactions within the horizon resolving exactly as
    * they did when they committed. `Some(-1)` is the as-built state.
    * Readable history is bounded by vacuum: a horizon that falls behind
    * a vacuumed fold (its pre-compaction base reclaimed) fails loudly
    * with the earliest readable snapshot, never partially resolves. */
  def loadDedupIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, beforeBatch: Option[Long] = None,
      lineage: String = "default",
      asOfGen: Option[Long] = None,
      knownMeta: Option[DedupIndexMeta] = None): DedupIndex = {
    // `knownMeta` skips the per-load meta-table read (one driver job):
    // meta is immutable for an index dir (build-time geometry; appends/
    // compactions never change it), so a caller that loads the same
    // index repeatedly — the per-micro-batch ingest loop — can pin it
    // once (r21; measured as one ~0.1-0.2 s job+gap per batch)
    lazy val m = spark.read.parquet(s"$dir/meta").head()
    val (cbase, tail) = appends(spark, dir).snapshot(s"dedup index at $dir",
      baseTables(dir), asOfGen, beforeBatch, lineage)
    val baseDir = cbase.map(_.toString).getOrElse(dir)
    val gens = tail.map(_.toString)
    def table(name: String): DataFrame =
      spark.read.parquet(s"$baseDir/$name" +: gens.map(g => s"$g/$name"): _*)
    DedupIndex(
      knownMeta.getOrElse(
        DedupIndexMeta(m.getAs[Int]("k"), m.getAs[Int]("bands"),
          m.getAs[Int]("shingle_width"), m.getAs[Int]("max_bucket"))),
      table("signatures"), table("bands"), table("fingerprints"))
  }

  /** Dedup an ingest batch against a persisted index WITHOUT touching
    * the corpus text: per batch doc, `verdict` ∈ exact (fingerprint
    * match, `match_doc` = lowest matching doc, est_sim 1.0) / near
    * (best LSH candidate with `est_sim >= minEstSim`, ties to the
    * lowest doc) / new (`match_doc` -1, est_sim 0.0).
    *
    * INTRA-batch duplicates are matched too (ADVICE r10: two copies of
    * one document arriving in the same ingest batch must not BOTH enter
    * the index as `new`): each batch doc is also compared — exact
    * fingerprint and LSH — against batch docs with a STRICTLY LOWER id,
    * so of n intra-batch copies exactly the lowest-id one can be `new`
    * and the rest resolve to it (or to a corpus doc, whichever id is
    * lower / similarity higher). The lower-id-only rule keeps the
    * verdict asymmetric — no pair can mutually mark each other dup.
    *
    * Scale shape — the batch is the small side BY DEFINITION of
    * incremental ingest, so every join against the index BROADCASTS
    * the batch-derived frame and the index tables stream map-side:
    * the index is never shuffled, never collected, and only the
    * (band, key, doc) / (doc, sig) / (fp, doc) columns are read. Every
    * exchange in the plan is over a BATCH-bounded frame (the batch
    * signature agg, the candidate dedup, the best-candidate window,
    * the exact-match group, the intra-batch self-joins) — none over the
    * index (plan-asserted in DedupSimilaritySpec). A batch too large to
    * broadcast is not an increment — run the full pipeline and
    * rebuild. */
  def incrementalDedup(batch: DataFrame, idCol: String, textCol: String,
      index: DedupIndex, minEstSim: Double = 0.5): DataFrame = {
    val k = index.meta.k
    val bsig = portableSignatures(batch, idCol, textCol, k, index.meta.shingleWidth)
    val bband = portableBandKeys(bsig, k, index.meta.bands)
      .select(col("doc").as("bdoc"), col("sig").as("bsig"),
        col("band"), col("key"))
    val estSimOf = (a: Column, b: Column) =>
      size(filter(zip_with(a, b, (x, y) => x === y), x => x))
        .cast(DoubleType) / k
    // corpus LSH candidates: batch bands broadcast against the index
    val cand = broadcast(bband)
      .join(index.bandKeys.select(col("band"), col("key"), col("doc").as("cdoc")),
        Seq("band", "key"))
      .select(col("bdoc"), col("bsig"), col("cdoc"))
      .dropDuplicates("bdoc", "cdoc")
    val est = broadcast(cand)
      .join(index.signatures.select(col("doc").as("cdoc"), col("sig").as("csig")),
        Seq("cdoc"))
      .withColumn("est_sim", estSimOf(col("bsig"), col("csig")))
      .filter(col("est_sim") >= minEstSim)
      .select(col("bdoc"), col("cdoc"), col("est_sim"))
    // intra-batch LSH candidates: band-key self-join (broadcast — both
    // sides batch-bounded), strictly-lower id only; both signatures are
    // already in hand — no index access. (r22 note: removing this
    // dropDuplicates is result-identical — the rank-1 window is
    // invariant to duplicate candidate rows — but measured SLOWER on
    // the large-batch flavor (e52 2.34 → 2.57 min): the duplicate rows'
    // est_sim evals outweigh the saved exchange. Kept, per the
    // keep-or-revert discipline.)
    val estIntra = bband
      .join(broadcast(bband.select(col("band"), col("key"),
          col("bdoc").as("cdoc"), col("bsig").as("csig"))),
        Seq("band", "key"))
      .filter(col("cdoc") < col("bdoc"))
      .select(col("bdoc"), col("bsig"), col("cdoc"), col("csig"))
      .dropDuplicates("bdoc", "cdoc")
      .withColumn("est_sim", estSimOf(col("bsig"), col("csig")))
      .filter(col("est_sim") >= minEstSim)
      .select(col("bdoc"), col("cdoc"), col("est_sim"))
    val best = est.union(estIntra)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bdoc"))
          .orderBy(col("est_sim").desc, col("cdoc"))))
      .filter(col("rn") === 1)
      .select(col("bdoc").as(idCol), col("cdoc"), col("est_sim"))
    val bfp = batch.select(col(idCol), md5(lower(col(textCol))).as("fp"))
    // exact matches, one-pass fold (r22): corpus fingerprints (any
    // match) ∪ batch fingerprints (strictly-lower id only — the
    // `__intra` tag scopes the comparison), ONE broadcast of the batch
    // fingerprints against the unioned stream side instead of two
    // separate joins with their own broadcast builds. The union's batch
    // arm is a map-only projection of the (cached) batch — no exchange,
    // and the index side still streams.
    val fpAll = index.fingerprints.select(col("fp"), col("doc").as("xdoc"),
        lit(false).as("__intra"))
      .unionByName(bfp.select(col("fp"), col(idCol).as("xdoc"),
        lit(true).as("__intra")))
    val exact = broadcast(bfp)
      .join(fpAll, Seq("fp"))
      .filter(!col("__intra") || col("xdoc") < col(idCol))
      .select(col(idCol), col("xdoc"))
      .groupBy(col(idCol)).agg(min(col("xdoc")).as("exact_doc"))
    batch.select(col(idCol))
      .join(broadcast(exact), Seq(idCol), "left")
      .join(broadcast(best), Seq(idCol), "left")
      .select(col(idCol),
        when(col("exact_doc").isNotNull, "exact")
          .when(col("cdoc").isNotNull, "near")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_doc"), col("cdoc"), lit(-1L)).as("match_doc"),
        when(col("exact_doc").isNotNull, lit(1.0d))
          .otherwise(coalesce(col("est_sim"), lit(0.0d))).as("est_sim"))
  }

  /** Grow the index with newly-admitted documents (typically the `new`
    * verdicts of a just-deduped batch), ATOMICALLY: the three tables'
    * increments are staged in full into one generation dir
    * (`appends__b<id>/{signatures,bands,fingerprints}`), then published
    * by a single ledger PUT ([[appends]]) — readers see all three
    * or none, so a crash mid-append can never publish fingerprints
    * without their band keys (the window the old in-place three-table
    * append had). A crash before the PUT leaves an invisible partial
    * generation that the NEXT append overwrites (same id, never
    * committed); a torn PUT is repaired here by re-committing the
    * highest staged generation — the stage completes before the PUT
    * begins, so a torn ledger implies an intact generation.
    *
    * Single-appender contract (same as the compactor's): one appender
    * per index at a time. Appended band keys bypass the build-time
    * `maxBucket` prune — a bucket can only exceed the bound by
    * accumulation across many appends; [[compactDedupIndex]] re-applies
    * the prune globally (and folds the generation dirs away) without
    * re-hashing any text.
    *
    * `asStreamBatch` marks the append as stream micro-batch `g` of
    * `lineage` (the caller's sink path, typically) and makes it
    * IDEMPOTENT: the batch id is written as a per-generation TAG during
    * the stage, and an append whose lineage already carries a watermark
    * ≥ g is a replay and returns without writing
    * ([[graft.streaming.Generations.admitted]]). Generation ids stay
    * internal, so stream batches COMPOSE with manual appends and
    * in-place compaction — no id collisions, and a compaction carries
    * the folded watermarks forward. An admitted-nothing batch writes nothing (its replay
    * re-derives the same nothing). One lineage per sink-dir contract
    * as [[graft.streaming.ExactlyOnce]]: a fresh checkpoint means a
    * fresh sink means a fresh lineage key. */
  def appendToDedupIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, asStreamBatch: Option[Long] = None,
      lineage: String = "default",
      knownMeta: Option[DedupIndexMeta] = None,
      knownNonEmpty: Boolean = false): Unit = {
    val spark = docs.sparkSession
    val gens = appends(spark, dir)
    if (asStreamBatch.exists(gens.admitted(lineage, _))) return // replay
    // `knownNonEmpty` skips the emptiness probe — its own Spark action —
    // for callers that already counted the admitted set (the per-batch
    // ingest loop, r22); an admitted-nothing batch writes nothing either
    // way (its replay re-derives the same nothing)
    if (!knownNonEmpty && docs.isEmpty) return
    // meta is immutable per index dir — a caller holding a loaded index
    // pins it instead of paying one meta-read job per append (r21)
    val meta = knownMeta.getOrElse {
      val m = spark.read.parquet(s"$dir/meta").head()
      DedupIndexMeta(m.getAs[Int]("k"), m.getAs[Int]("bands"),
        m.getAs[Int]("shingle_width"), m.getAs[Int]("max_bucket"))
    }
    val k = meta.k
    val sig = portableSignatures(docs, idCol, textCol, k, meta.shingleWidth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try gens.append(asStreamBatch.map(lineage -> _).toMap) { gen =>
      // §2.6 overlap; both sig consumers race to materialize the persist
      // first, which is safe (block-level getOrCompute locking computes
      // each partition once)
      ConcurrentActions.inParallel(
        () => sig.write.mode("overwrite").parquet(s"$gen/signatures"),
        () => portableBandKeys(sig, k, meta.bands)
          .select(col("band"), col("key"), col("doc"))
          .write.mode("overwrite").parquet(s"$gen/bands"),
        () => docs.select(col(idCol).as("doc"), md5(lower(col(textCol))).as("fp"))
          .write.mode("overwrite").parquet(s"$gen/fingerprints"))
    } finally { sig.unpersist(blocking = false); () }
  }

  /** 64-bit SimHash of the word multiset: per bit, vote +1/-1 by each
    * word hash's bit, take the sign. Word hashes come from the
    * [[portableHash64]] family (60-bit, DuckDB-stateable), voted through
    * the native [[graft.functions.SimHash64]] sign loop. Bits 60–63 of
    * every word hash are zero, so those simhash bits vote all-negative
    * and are 0 on both engines. The word hashing is the native
    * [[graft.functions.PortableWordHashes]] expression — bit-identical
    * to `transform(split(text," "), portableHash64)` (property-tested)
    * but codegen'd: no HOF, no per-word string allocation. */
  def simhashPortable(text: Column): Column =
    call_function("graft_simhash64", call_function("graft_portable_words", text))

  /** E2 (SimHash flavor): near-dup pairs by banding the 64-bit simhash
    * into `chunks` pieces — hamming distance ≤ chunks-1 guarantees at
    * least one equal chunk (pigeonhole), which seeds the candidate join;
    * exact hamming is then computed on the candidates only. The
    * fingerprint is [[simhashPortable]], so the oracle can restate it. */
  def simhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      chunks: Int = 4, maxHamming: Int = 3): DataFrame = {
    val width = 64 / chunks
    val sh = df.select(col(idCol).as("doc"), simhashPortable(col(textCol)).as("sh"))
    val chunkCols = (0 until chunks).map { c =>
      shiftright(col("sh"), c * width)
        .bitwiseAND((1L << width) - 1).as(s"chunk_$c")
    }
    val withChunks = sh.select(col("doc") +: col("sh") +: chunkCols: _*)
    val banded = withChunks.select(col("doc"), col("sh"),
      posexplode(array((0 until chunks).map(c => col(s"chunk_$c")): _*)).as(Seq("band", "bh")))
    val ham = (a: Column, b: Column) => bit_count(a.bitwiseXOR(b))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc1"), col("y.doc").as("doc2"),
        ham(col("x.sh"), col("y.sh")).cast(IntegerType).as("hamming"))
      .dropDuplicates("doc1", "doc2")
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup clusters from candidate pairs: connected components by
    * alternating large-star/small-star contraction (the public
    * MapReduce-CC algorithm of Kiveris et al., "Connected Components in
    * MapReduce and Beyond"), the canonical-document step of a dedup
    * pipeline (keep `cluster_rep`, drop the rest).
    *
    * Each round rewires the edge set toward a star per component:
    *  - large-star: every neighbor LARGER than a node is re-pointed at
    *    the minimum of that node's closed neighborhood;
    *  - small-star: every neighbor SMALLER than a node (plus the node)
    *    is re-pointed at the minimum of those.
    * Both steps preserve connectivity, and the alternation converges in
    * O(log diameter) rounds — min-label propagation (the previous
    * implementation) needs diameter rounds, which on chain-shaped
    * components at 100 TB is the difference between ~5 and ~30+
    * shuffle rounds. Flat near-dup components still converge in 2-3
    * rounds, with `maxIter` as the safety cap.
    *
    * Convergence is detected by the per-node label sum (least of self
    * and neighbors), which is monotone non-increasing under both steps
    * (every rewire points a node at something ≤ its dropped neighbor)
    * and stalls exactly at the fixpoint where labels are the component
    * minima. Decimal sum: a long sum over billions of 63-bit ids would
    * overflow (and throw under ANSI); decimal sums are exact.
    *
    * Each round's edge set is lineage-TRUNCATED (checkpoint when the
    * session has a checkpoint dir, localCheckpoint otherwise — set a
    * reliable dir on a real cluster, where localCheckpoint blocks die
    * with a lost executor): a star round references its input edges
    * several times (two group-join stages), so chained lazily the
    * logical plan grows ~4x per round — exponential — and persist alone
    * bounds execution but not the plan, which AQE stringifies on every
    * update. Truncation keeps both execution and plan one round deep.
    *
    * Driver finish: a near-dup graph is usually tiny next to the corpus
    * that produced it (a few hundred confirmed pairs on thousands of
    * documents), and there every round's fixed job cost dwarfs its
    * work. So after the one-time truncation of the symmetrized edges,
    * at most [[DriverFinishEdges]] + 1 of them are collected from those
    * blocks. If the whole edge set fits, union-find labels it on the
    * driver (the smaller root wins every union, so each root is its
    * component's minimum) and the labels come back as a local relation:
    * the same rows, names, types and nullability as the converged loop,
    * with 0 rounds reported. If it does not fit (or the ids are not
    * integral, or one is null), the star loop below runs on the same
    * truncated edges — the candidate front executes once either way.
    *
    * Output: (doc_id, cluster_rep) for every document that appears in a
    * pair with another document; singletons (and self-pair-only ids)
    * are their own trivial cluster and are omitted. On the distributed
    * path the returned frame is persisted (it backs the converged
    * labels) — call `.unpersist()` on it when done (a no-op on the
    * driver path's local relation). If `maxIter` rounds pass without
    * convergence, a warning is logged and the current (non-minimal for
    * the farthest nodes) labels are returned. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsFull(pairs, maxIter)._1

  /** Symmetrized edges the driver finish labels at most: 2^20, and one
    * edge per 4 KiB of driver heap below 4 GiB. Measured in local[4] on
    * graphs of 8-node cycles at 2^16, 2^18 and 2^20 edges, the finish
    * (plus one action over its labels) beat the star loop at each size,
    * 3.5-4.0 s against 9-18 s at 2^20, and its sampled peak heap stayed
    * below the loop's (0.6-0.8 GB against 1.7-2.0 GB at 2^20 on a
    * 3 GiB heap). Its labels keep about 145 bytes per edge live. 2^20
    * edges also ran on a 1 GiB heap, peaking at 0.6 GB of it; the heap
    * rule keeps a small driver's bound below that (2^18 at 1 GiB). A
    * graph past the bound pays its collect (within the finish's 2 s at
    * 2^20) before the loop runs. */
  private[ext] val DriverFinishEdges: Int =
    math.min(1L << 20, Runtime.getRuntime.maxMemory / 4096).toInt

  /** [[connectedComponents]] plus the number of contraction rounds run —
    * exposed for tests that pin the O(log diameter) convergence (they
    * force the star loop with `driverBound = 0`). */
  private[ext] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int = 20,
      driverBound: Int = DriverFinishEdges): (DataFrame, Int) = {
    val (labels, rounds, _) = connectedComponentsFull(pairs, maxIter, driverBound)
    (labels, rounds)
  }

  /** Full handles: (clusters, rounds, final contracted edge frame). On
    * the distributed path the edge frame is the LAST round's
    * `localCheckpoint` — its blocks back the labels cache's lineage, so
    * it must outlive any consumer that may recompute the labels;
    * [[DedupPipeline.unpersistAll]] releases it together with the stage
    * caches (standalone callers rely on the ContextCleaner reclaiming it
    * when the frame goes unreferenced — the declared-query pattern). The
    * driver path releases the truncated edges itself, before returning. */
  private[ext] def connectedComponentsFull(
      pairs: DataFrame, maxIter: Int = 20,
      driverBound: Int = DriverFinishEdges): (DataFrame, Int, DataFrame) = {
    // both edge directions from ONE pass over the input — a union of two
    // selects would execute the (possibly expensive) upstream candidate
    // pipeline twice to materialize the edge cache
    def symmetrize(df: DataFrame): DataFrame =
      df.select(explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
    // see [[releaseTruncated]] — Dataset.unpersist() can't reach these
    var edges = truncated(symmetrize(
      pairs.select(col("doc1").as("a"), col("doc2").as("b"))))
    // per-node labels double as the convergence metric AND the result:
    // least(self, min neighbor) equals the component minimum once the
    // edge set has contracted to stars
    def labelsOf(e: DataFrame): DataFrame = e.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("rep"))
      .select(col("a").as("doc"), col("rep"))
    def output(labels: DataFrame): DataFrame =
      labels.select(col("doc").as("doc_id"), col("rep").as("cluster_rep"))
    driverFinish(edges, driverBound, output(labelsOf(edges)).schema) match {
      case Some(local) =>
        releaseTruncated(edges) // the local labels reference no block
        return (local, 0, edges)
      case None => ()
    }
    // an empty node set sums to NULL → converged-empty, not an NPE
    def labelSum(df: DataFrame): Option[BigDecimal] =
      Option(df.agg(org.apache.spark.sql.functions.sum(
        col("rep").cast(DecimalType(38, 0)))).collect().head.getDecimal(0))
        .map(BigDecimal(_))
    var labels = labelsOf(edges).persist()
    var prevSum: Option[BigDecimal] = None
    var curSum = labelSum(labels)
    var i = 0
    while (curSum.isDefined && prevSum.forall(p => curSum.exists(_ < p)) && i < maxIter) {
      prevSum = curSum
      // large-star: group the symmetric edges by center a with
      // m = min(a ∪ neighbors); every neighbor b > a re-points at m.
      // (Edges to SMALLER neighbors are handled by the smaller
      // endpoint's own group, so every undirected edge survives exactly
      // once, oriented larger → smaller.)
      val m1 = edges.groupBy(col("a"))
        .agg(least(col("a"), min(col("b"))).as("m"))
      val large = edges.join(m1, "a").where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
      // small-star on the now-directed (a > b) edges: m = min neighbor;
      // each smaller neighbor AND the center re-point at m. Self-loops
      // (b == m) drop; distinct bounds the edge count per round.
      val m2 = large.groupBy(col("a")).agg(min(col("b")).as("m"))
      val small = large.join(m2, "a")
        .select(explode(array(
            struct(col("b").as("a"), col("m").as("b")),
            struct(col("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .where(col("a") =!= col("b"))
        .distinct()
      val nextEdges = truncated(symmetrize(small))
      val nextLabels = labelsOf(nextEdges).persist()
      curSum = labelSum(nextLabels) // materializes nextLabels
      labels.unpersist()
      // truncation is EAGER, so nextEdges' blocks are a self-contained
      // leaf by now — the previous round's checkpoint can be released
      // deterministically instead of waiting on the ContextCleaner
      releaseTruncated(edges)
      edges = nextEdges
      labels = nextLabels
      i += 1
    }
    if (i == maxIter && prevSum.exists(p => curSum.exists(_ < p)))
      System.err.println(s"[graft] connectedComponents stopped at maxIter=$maxIter " +
        "without converging — labels for the farthest nodes of some component " +
        "are not yet the component minimum")
    // The rename-only projection has sameResult with the persisted
    // labels plan, so it scans (and releases, via .unpersist()) the SAME
    // cache entry — re-persisting it here would double-register the
    // entry and a later unpersist would drop it for both (see r5 note).
    // labels is already materialized by the loop's final labelSum action.
    (output(labels), i, edges)
  }

  /** The driver finish of [[connectedComponentsFull]]: `None` unless the
    * truncated symmetric `edges` hold at most `bound` rows of non-null
    * integral ids; else each id of a non-self edge labelled with its
    * component minimum by union-find, as a local relation of `schema`
    * (the star loop's output schema, so both paths type alike). One
    * job: the single coalesced task stops reading after `bound + 1`
    * rows. A `bound` of 0 turns the finish off. */
  private def driverFinish(edges: DataFrame, bound: Int,
      schema: StructType): Option[DataFrame] = {
    if (bound <= 0) return None
    // labels go back in the id column's own type
    val box: Long => Any = schema.head.dataType match {
      case LongType => identity
      case IntegerType => _.toInt
      case ShortType => _.toShort
      case ByteType => _.toByte
      case _ => return None
    }
    val rows = edges.coalesce(1).limit(bound + 1).collect()
    if (rows.length > bound || rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      return None
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    rows.foreach { r =>
      val a = r.getAs[Number](0).longValue
      val b = r.getAs[Number](1).longValue
      // a self-pair alone makes no component: the star loop drops
      // self-edges in its first round, so such an id is not labelled
      if (a != b) {
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    val labels = parent.keys.toSeq.map(n => Row(box(n), box(find(n))))
    // the star loop runs at least one round on any non-empty edge set,
    // and a round's min aggregate makes both columns nullable; an empty
    // edge set runs no round and keeps the input's nullability
    val typed = if (rows.isEmpty) schema
      else StructType(schema.map(_.copy(nullable = true)))
    Some(edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(labels: _*), typed))
  }

  /** Eager lineage truncation (see [[connectedComponents]]): one job
    * materializes `df` and its logical plan becomes a leaf — a reliable
    * `checkpoint` when the session has a checkpoint dir, a
    * `localCheckpoint` otherwise. Release with [[releaseTruncated]];
    * unreleased blocks are reclaimed by the ContextCleaner once the
    * frame goes unreferenced. */
  private[ext] def truncated(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * frame. `Dataset.unpersist()` only uncaches cacheManager entries;
    * a local checkpoint is an RDD-LEVEL persist wrapped in a
    * `LogicalRDD` leaf, invisible to the cache manager — without this,
    * checkpoint blocks linger until the ContextCleaner GCs the frame.
    * No-op for reliable (file-based) checkpoints and plain frames. */
  private[ext] def releaseTruncated(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        ()
      case _ => ()
    }

  /** Handles to every stage of [[dedupPipeline]]. `candidates` and
    * `confirmed` are persisted — call [[unpersistAll]] when done, after
    * which EVERY frame in this bundle is unusable. `clusters` need not
    * be cache-backed: a graph within [[DriverFinishEdges]] comes back
    * as a driver-built local relation (see [[connectedComponents]]);
    * a larger one is the star loop's persisted labels, whose lineage
    * (and so `kept`'s) bottoms out in the loop's `localCheckpoint`
    * blocks (truncated lineage — there is no plan to recompute from).
    * [[unpersistAll]] releases those truncated edges on either path.
    * Run all actions (or materialize a copy) first. */
  final case class DedupPipeline(
      candidates: DataFrame, confirmed: DataFrame,
      clusters: DataFrame, kept: DataFrame,
      private val ccEdges: DataFrame) {
    def unpersistAll(): Unit = {
      candidates.unpersist(); confirmed.unpersist(); clusters.unpersist()
      // the CC loop's final localCheckpoint backs the (now-released)
      // labels cache's lineage; releasing it here instead of waiting on
      // the ContextCleaner means a completed pipeline run leaves ZERO
      // cache entries behind (spec-asserted in CorpusPipelineSpec). The
      // driver finish released it already; a second release is a no-op.
      releaseTruncated(ccEdges)
      ()
    }
  }

  /** The composed end-to-end fuzzy-dedup pipeline: MinHash-LSH
    * candidates → exact edit-distance confirmation → connected-component
    * clusters → keep-best canonical selection — sharing ONE candidate
    * front. Run as separate queries (e05/e25/e15/e26 declare each stage
    * self-contained for the oracle), the shingle→signature→band front is
    * recomputed per stage; at 100 TB that front IS the dominant cost, so
    * the composed form computes it once (persisted) and derives every
    * later stage from that frame.
    *
    * `scores` must carry (`doc_id`, `scoreCol`) — one row per doc (see
    * [[keepBest]]). Returns handles to all four stages; a caller that
    * materializes several of them still pays for the candidate front
    * once. */
  def dedupPipeline(docs: DataFrame, idCol: String, textCol: String,
      scores: DataFrame, scoreCol: String = "score",
      k: Int = 32, bands: Int = 8, minEstSim: Double = 0.4,
      maxEdit: Int = 5): DedupPipeline = {
    val candidates =
      minhashCandidatesPortable(docs, idCol, textCol, k, bands,
        minEstSim = minEstSim)
        .persist()
    // exact confirmation strictly on the sketched candidates (the
    // O(len²) DP per pair is affordable exactly because the sketch
    // bounds the pair count); persisted because it both feeds the
    // cluster step's edge build and is a deliverable of its own
    val confirmed = candidates
      .join(docs.select(col(idCol).as("doc1"), col(textCol).as("t1")), "doc1")
      .join(docs.select(col(idCol).as("doc2"), col(textCol).as("t2")), "doc2")
      .select(col("doc1"), col("doc2"), col("est_sim"),
        levenshtein(col("t1"), col("t2")).cast(IntegerType).as("edit_dist"))
      .filter(col("edit_dist") <= maxEdit)
      .persist()
    val (clusters, _, ccEdges) = connectedComponentsFull(confirmed)
    val kept = keepBest(clusters, scores, scoreCol = scoreCol)
    DedupPipeline(candidates, confirmed, clusters, kept, ccEdges)
  }

  /** Canonical-document selection — the DECISION step of a near-dup
    * pipeline: given cluster labels ([[connectedComponents]] output) and
    * per-doc quality scores, keep the highest-scoring member of each
    * cluster (ties to the smallest id) and report the cluster size.
    * Cluster members MISSING from `scores` still count toward
    * `n_members` and rank last (null score, descending order puts nulls
    * last) — an inner join would silently delete them and misreport the
    * cluster size. Both windows share one partitioning on cluster_rep —
    * a single exchange at any corpus size. */
  def keepBest(clusters: DataFrame, scores: DataFrame,
      idCol: String = "doc_id", scoreCol: String = "score"): DataFrame = {
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_rep"))
    val ranked = byCluster.orderBy(col(scoreCol).desc_nulls_last, col(idCol))
    // one score row per id before the join: duplicate id rows in `scores`
    // would multiply cluster-member rows and inflate n_members (the
    // reported cluster size) even though row_number still yields one
    // winner — keep each id's best score, matching the ranking's take
    val best = scores.groupBy(col(idCol)).agg(max(col(scoreCol)).as(scoreCol))
    clusters.join(best, Seq(idCol), "left")
      .withColumn("__rn", row_number().over(ranked))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("__rn") === 1)
      .select(col("cluster_rep"), col(idCol).as("keep_id"),
        col(scoreCol), col("n_members"))
  }

  /** Cross-source contamination check — the benchmark-decontamination
    * primitive of a training pipeline: for every document of
    * `evalSource`, the fraction of its distinct n-gram shingles that
    * appear ANYWHERE in `trainSource`. Docs at/above `threshold` are the
    * contamination report (an eval doc substantially contained in the
    * training corpus).
    *
    * Scale shape: the train side reduces to a DISTINCT set of 8-byte
    * shingle hashes (never the text), the eval side explodes per-doc
    * distinct hashes, and the only joins/aggregations shuffle on the
    * hash or the doc id — no pairwise doc×doc work anywhere, so cost is
    * linear in corpus size. Catalyst broadcasts the train set when it is
    * small and falls back to a shuffle join when it is not. Hash
    * collisions (~2⁻⁶⁴ per shingle pair) can only over-count by one; the
    * DuckDB oracle joins the shingle strings themselves and confirms. */
  def contaminationOverlap(
      df: DataFrame, idCol: String, textCol: String, sourceCol: String,
      evalSource: String, trainSource: String,
      shingleWidth: Int = 3, threshold: Double = 0.2): DataFrame = {
    val hashes = array_distinct(shingleHashes(col(textCol), shingleWidth))
    // distinct (doc, shingle) pairs: duplicate doc-id rows (same id, any
    // text) contribute ONE set per id, matching the oracle's
    // DISTINCT(doc, shingle) semantics — without this, a duplicated eval
    // row double-counts every hit while n_shingles stays per-row
    val ev = df.filter(col(sourceCol) === evalSource)
      .select(col(idCol).as("doc"), explode(hashes).as("sh"))
      .distinct()
    val train = df.filter(col(sourceCol) === trainSource)
      .select(explode(hashes).as("sh")).distinct()
    // sizes from the same deduped pair set, so n is the id's UNION of
    // shingles even when duplicate ids carry different texts
    val sizes = ev.groupBy(col("doc"))
      .agg(count(lit(1)).cast(IntegerType).as("n_shingles"))
    val hits = ev.join(train, "sh").groupBy(col("doc"))
      .agg(count(lit(1)).as("n_hit"))
    overlapReport(sizes, hits, threshold)
  }

  /** Shared contamination-report tail ([[contaminationOverlap]] /
    * [[bloomDecontaminate]] — the "same report" contract lives here
    * once): LEFT join so eval docs with zero hits have overlap 0, which
    * satisfies the at/above-threshold contract when threshold = 0.0 —
    * an inner join would silently drop them from the report. */
  private def overlapReport(sizes: DataFrame, hits: DataFrame,
      threshold: Double): DataFrame =
    sizes.join(hits, Seq("doc"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("overlap", col("n_hit").cast(DoubleType) / col("n_shingles"))
      .filter(col("overlap") >= threshold)
      .select(col("doc").as("doc_id"), col("n_shingles"), col("n_hit"), col("overlap"))

  /** Bloom-pruned decontamination — the broadcast-prune SCALE path for
    * [[contaminationOverlap]], same report (the shared
    * [[overlapReport]] tail), different cost shape. Three structural
    * changes take every full-corpus EXCHANGE off the plan:
    *
    *  - the train side is folded into ONE serialized bloom filter by a
    *    single partial-merging aggregate (`graft_bloom_agg` — Spark's
    *    own `BloomFilterAggregate`, the runtime-filter primitive):
    *    no distinct pass, no exchange, one `numBits/8`-byte row to the
    *    driver;
    *  - the eval side probes that filter MAP-SIDE (`graft_bloom_contains`
    *    riding the scan, whole-stage codegen) so only probable members
    *    — contamination rate + false positives — survive; the small
    *    survivor set is cached and folded into a SECOND bloom, and the
    *    train side probes THAT map-side before the exact semi-join —
    *    the symmetric bloom join: neither corpus is ever exchanged in
    *    full, only the two contaminated slivers meet in the join, and
    *    the exact semi-join removes all false positives (filtering the
    *    build side of a semi-join can only drop rows that match
    *    nothing, so the REPORT is exact — the blooms only prune);
    *  - the denominator comes from the row's own text
    *    (`size(array_distinct(...))`, map-only) instead of a corpus-wide
    *    distinct — this operator contracts unique ids per eval doc
    *    (true of any real corpus surface; [[contaminationOverlap]]
    *    remains the flavor with multi-row-union semantics).
    *
    * At 100 TB: the train corpus is scanned twice (bloom build + probe)
    * and the eval corpus twice (sizes + probe) but NEITHER is shuffled
    * — scans are the cheap currency at scale, exchanges the expensive
    * one. The two driver collects are one serialized filter each
    * (≤ numBits/8 bytes, BOUNDED). fpp tunes via `numBits`/`estItems`
    * (FPs cost only wasted probe-side rows, never correctness). Left
    * unset (≤ 0), both are sized without a job from the input's plan
    * statistics (Spark's runtime-filter idiom): `estItems` is the
    * input's size in bytes (a text of n bytes holds well under n
    * shingles), `numBits` the optimal size for 1% FP at that count, and
    * both are capped at 2^20 items and 2^23 bits (1 MiB), so a small
    * input gets a small filter and no input a larger one — every probe
    * task carries the filter as a literal. The same estimate sizes the
    * survivor filter (survivors are train members plus false
    * positives). The survivor cache is the contamination sliver —
    * small by the problem's nature; the ContextCleaner reclaims it (the
    * declared-query pattern). */
  def bloomDecontaminate(
      df: DataFrame, idCol: String, textCol: String, sourceCol: String,
      evalSource: String, trainSource: String,
      shingleWidth: Int = 3, threshold: Double = 0.0,
      estItems: Long = 0L, numBits: Long = 0L): DataFrame = {
    val hashes = array_distinct(shingleHashes(col(textCol), shingleWidth))
    val items = if (estItems > 0) estItems
      else df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(1L << 20)).toLong.max(1L)
    val bits = if (numBits > 0) numBits
      else org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, 0.01)
        .min(1L << 23)
    def bloomOf(sh: DataFrame): Array[Byte] = sh
      .agg(call_function("graft_bloom_agg",
        xxhash64(col("sh")), lit(items), lit(bits)).as("bf"))
      .head().getAs[Array[Byte]]("bf") // null on empty input
    def probeWith(bf: Array[Byte]): Column =
      if (bf == null) lit(false) // empty side: nothing can match
      else call_function("graft_bloom_contains", lit(bf), xxhash64(col("sh")))
    val trainSh = df.filter(col(sourceCol) === trainSource)
      .select(explode(hashes).as("sh"))
    val trainBf = bloomOf(trainSh)
    val sizes = df.filter(col(sourceCol) === evalSource)
      .select(col(idCol).as("doc"), size(hashes).cast(IntegerType).as("n_shingles"))
    val survivors = df.filter(col(sourceCol) === evalSource)
      .select(col(idCol).as("doc"), explode(hashes).as("sh"))
      .filter(probeWith(trainBf))
      .cache() // evaluated for its bloom AND the join; sliver-sized
    val prunedTrain = trainSh.filter(probeWith(bloomOf(survivors)))
    // left_semi dedups train occurrences inside the join — no distinct
    // exchange anywhere; both join inputs are bloom slivers
    val hits = survivors
      .join(prunedTrain, Seq("sh"), "left_semi")
      .groupBy(col("doc")).agg(count(lit(1)).as("n_hit"))
    overlapReport(sizes, hits, threshold)
  }

  /** E2 (exact flavor, the conformance oracle): n-gram Jaccard similarity
    * via an inverted index on shingle hashes. At scale the shingle
    * join would ride behind the MinHash candidate filter; declared here
    * standalone so DuckDB can verify it hash-for-hash.
    *
    * Shape: per-doc shingle sizes come straight off the scan (one narrow
    * projection, no explode); the inverted index is built ONCE
    * (explode → groupBy shingle → sorted posting list) and candidate
    * pairs are generated in-row from each posting list — the shingle
    * frame is never self-joined, so shingle extraction runs once
    * instead of three times and the only shuffles are the two
    * aggregations on their natural keys. `maxDf` drops hotter-than-N
    * posting lists (boilerplate shingles) before pair generation — the
    * standard bound on the quadratic worst case at corpus scale. The
    * DEFAULT is a real bound (10 000: a single hot shingle then caps at
    * ~5·10⁷ generated pairs instead of corpus², and a dropped shingle
    * only ever lowers a pair's intersection count — boilerplate that hot
    * carries no similarity signal anyway); callers wanting the exact
    * unbounded semantics (the declared e02 oracle) pass `Int.MaxValue`
    * explicitly.
    *
    * The index is keyed on the shingle's 64-bit hash, not the string:
    * exchanges carry 8-byte keys instead of n-gram text, and extraction
    * stays in whole-stage codegen. Set equality on hashes equals set
    * equality on shingles modulo an xxhash64 collision (~2⁻⁶⁴ per
    * pair) — the DuckDB oracle joins on the strings themselves and
    * confirms the counts. */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, threshold: Double = 0.5,
      maxDf: Int = 10000): DataFrame = {
    val hashes = array_distinct(shingleHashes(col(textCol), shingleWidth))
    val sizes = df.select(col(idCol).as("doc"), size(hashes).as("n"))
    val tok = df.select(col(idCol).as("doc"), explode(hashes).as("sh"))
    val shared = tok.groupBy(col("sh"))
      .agg(sort_array(collect_list(col("doc"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    // surface the bound when it bites (mirrors compact()'s
    // discard-surfacing discipline): an observe metric counts dropped
    // posting lists inside the same job — no extra pass — and the
    // session listener warns on stderr after the action completes
    val postings =
      if (maxDf == Int.MaxValue) shared
      else ObservedDrops.observe(shared, "jaccard_maxdf",
          sum(when(size(col("ds")) > maxDf, 1L).otherwise(0L)),
          max(when(size(col("ds")) > maxDf, size(col("ds")))).cast(LongType))
        .filter(size(col("ds")) <= maxDf)
    // all strictly-ordered pairs within a posting list, generated in-row
    // (the d1 < d2 filter also drops self-pairs that duplicate doc ids in
    // the input would otherwise produce, matching the old a.doc < b.doc
    // join predicate)
    val pairStructs = flatten(transform(col("ds"), (x, i) =>
      transform(slice(col("ds"), i + 2, size(col("ds"))),
        y => struct(x.as("d1"), y.as("d2")))))
    val inter = postings.select(explode(pairStructs).as("p"))
      .filter(col("p.d1") < col("p.d2"))
      .groupBy(col("p.d1").as("doc1"), col("p.d2").as("doc2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc1").withColumnRenamed("n", "n1"), "doc1")
      .join(sizes.withColumnRenamed("doc", "doc2").withColumnRenamed("n", "n2"), "doc2")
      .withColumn("jaccard", col("i").cast(DoubleType) / (col("n1") + col("n2") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
  }

  /** E1 at PARAGRAPH granularity — boilerplate removal: real pretraining
    * pipelines dedup at document AND paragraph level (headers, footers,
    * license blocks repeat across otherwise-distinct pages; dropping the
    * whole document would lose unique prose, keeping it verbatim trains
    * on the boilerplate). Per document:
    *
    *  1. split into fixed `paraTokens`-token paragraphs (the corpus has
    *     no structural delimiters, so the paragraph boundary is the
    *     same deterministic token-window geometry [[TextOps.chunk]]
    *     pins, overlap 0 — swap in a `split(text, "\n\n")` boundary
    *     for corpora that carry one);
    *  2. fingerprint each paragraph (md5 — the e01 discipline: the
    *     count shuffle carries 16-byte hashes, never paragraph text);
    *  3. a paragraph whose fingerprint occurs in MORE than `maxDocs`
    *     distinct documents is boilerplate — drop every instance;
    *  4. reassemble each document from its kept paragraphs in order.
    *
    * Scale shape: the hot-fingerprint set is tiny by construction
    * (boilerplate is the head of the distribution), so it broadcasts
    * back onto the paragraph stream — one fingerprint-keyed exchange
    * for the count, zero shuffles of document text beyond the final
    * per-doc reassembly, which groups on the already-partitioned doc
    * id. Duplicate paragraphs WITHIN one document count that document
    * once (distinct-doc count) and are kept or dropped together.
    *
    * Reference anchor: the reference dedups nothing (cost rows are
    * unique by line item); this is the LLM-corpus extension surface
    * (SURVEY §2.5), composed into the e35 pipeline variant. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      paraTokens: Int = 20, maxDocs: Int = 1): DataFrame = {
    require(paraTokens > 0 && maxDocs >= 1,
      s"paragraph geometry out of range: paraTokens=$paraTokens maxDocs=$maxDocs")
    val paras = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode(sequence(lit(0),
          greatest(size(col("__toks")) - 1, lit(0)), lit(paraTokens)))
          .as(Seq("para_id", "__start")),
        col("__toks"))
      .select(col(idCol), col("para_id").cast(LongType),
        array_join(slice(col("__toks"), col("__start") + 1, lit(paraTokens)), " ")
          .as("para"))
      .withColumn("fp", md5(col("para").cast("binary")))
    val hot = paras.groupBy(col("fp"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select(col("fp"))
    // LEFT join against the broadcast hot set: one pass flags, counts
    // and reassembles — collect_list skips the nulled-out hot rows, and
    // array_sort on (para_id, para) structs restores document order
    val flagged = paras.join(broadcast(hot).withColumn("__hot", lit(1)), Seq("fp"), "left")
    flagged.groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("__hot").isNull, struct(col("para_id"), col("para"))))),
          x => x.getField("para")), " ").as("clean_text"),
        count(when(col("__hot").isNull, 1)).as("n_kept"),
        count(when(col("__hot").isNotNull, 1)).as("n_dropped"))
  }

  /** Cross-document duplicate-span coverage — the token-window
    * approximation of exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499: spans repeated verbatim across documents are the
    * highest-value dedup target after whole-doc dups). Every k-token
    * window of every document is fingerprinted; a window is DUPLICATED
    * when its fingerprint occurs in at least `minDf` distinct documents.
    * Per document: total windows, duplicated windows, their ratio, and a
    * `trim`/`keep` verdict at `trimAt` coverage.
    *
    * Granularity ladder this completes: whole-doc ([[exactGroups]]) →
    * paragraph ([[paragraphDedup]]) → k-token window (here) →
    * set-similarity ([[minhashCandidatesPortable]]).
    *
    * Differs from [[contaminationOverlap]] (membership against a FIXED
    * benchmark set) and from TextOps.repetitionScore (WITHIN-doc
    * repetition): this measures verbatim overlap across the corpus
    * itself. Documents shorter than k tokens contribute their whole
    * text as one window ([[shingles]]' convention), so exact short dups
    * still reach coverage 1.0.
    *
    * Scale shape: three hash exchanges, all on compact keys — the
    * positional fingerprint rows (8-byte 60-bit md5 prefixes via the
    * fused codegen'd [[graft.functions.PortableShingleHashes64]]: no
    * per-window string allocation, text never shuffled) to count
    * per-window document frequency, the same rows again to join the
    * frequency back (equi-join on the agg's own key — colocated, and
    * AQE splits the boilerplate-fingerprint skew), then one doc-key
    * agg. No driver materialization at any corpus size; the window
    * count per doc is len-k+1, so the exploded set is ~tokens×1 rows. */
  def duplicateSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minDf: Int = 2, trimAt: Double = 0.5): DataFrame = {
    require(k > 0 && minDf >= 2 && trimAt >= 0.0,
      s"span geometry out of range: k=$k minDf=$minDf trimAt=$trimAt")
    // one fingerprint per window POSITION (multiset, unlike [[shingles]]'
    // distinct set): coverage counts positions, so a doc that repeats a
    // shared span twice is twice as covered
    val pos = docs.select(col(idCol).as("doc"),
      explode(call_function("graft_portable_shingles64",
        col(textCol), lit(k))).as("fp"))
    val dfreq = pos.groupBy(col("fp"))
      .agg(countDistinct(col("doc")).as("__df"))
    pos.join(dfreq, Seq("fp"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= minDf, 1L).otherwise(0L)).as("dup_grams"))
      .withColumn("dup_coverage", col("dup_grams").cast(DoubleType) / col("n_grams"))
      .select(col("doc").as(idCol), col("n_grams"), col("dup_grams"),
        col("dup_coverage"),
        when(col("dup_coverage") >= trimAt, lit("trim"))
          .otherwise(lit("keep")).as("verdict"))
  }

}
