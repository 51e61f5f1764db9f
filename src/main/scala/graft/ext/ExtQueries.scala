package graft.ext

import graft.{Q, Tables => T}
import graft.ops.RangeJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declared conformance queries for the LLM-data-pipeline extension
  * operators (SURVEY.md §2.5, E1–E3): exact dedup, n-gram Jaccard
  * near-dup, embedding similarity search — each hash-checked against a
  * DuckDB oracle where the semantics are SQL-expressible, plus the
  * sketch/LSH scale-path flavors declared as rows-only checks (their
  * outputs are deterministic — fixed hash families / fixed hyperplane
  * seed — but restating MinHash/SimHash in DuckDB SQL would just be a
  * second implementation, not an oracle).
  *
  * Scale posture is inherited from the operator modules: the oracle
  * flavors (all-pairs Jaccard/cosine) are conformance-only; the declared
  * scale paths are the banded MinHash/SimHash joins and the bucketed LSH
  * top-k (see Dedup.scala / Similarity.scala headers).
  */
object ExtQueries {

  // E1: exact dedup groups — the shuffle key is the 16-byte md5
  // fingerprint of the text, not the document itself (at 100 TB the
  // exchange carries hashes, not corpora). Results are identical to
  // grouping by text (the oracle's formulation) barring an md5
  // collision. Smallest doc_id survives (Dedup.exactGroups).
  val e01 = Q(
    "e01_dedup_exact_groups",
    (s, d) => Dedup.exactGroups(
      T.documents(s, d).select(col("doc_id"), md5(col("text").cast("binary")).as("fp")),
      "fp", "doc_id")
      .select(col("keep_id"), col("n_dups"))
      .orderBy(col("keep_id")),
    Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
      FROM documents GROUP BY text ORDER BY keep_id"""))

  // E2 (exact flavor): 3-gram Jaccard near-dup pairs via inverted-index
  // self-join. jaccard = |A∩B| / |A∪B| on distinct shingle sets; the
  // division is one IEEE op on exact integers → bit-equal across engines.
  // Declared slice bounded to 1000 docs (same fence as e04: the exact
  // all-pairs flavor is the oracle, MinHash-LSH is the scale path).
  val e02 = Q(
    "e02_jaccard_pairs",
    (s, d) => Dedup.jaccardPairs(T.documents(s, d).filter(col("doc_id") < 1000),
      "doc_id", "text", shingleWidth = 3, threshold = 0.5,
      // the oracle is the exact unbounded semantics; the production
      // default bounds hot shingles (maxDf) and is tested separately
      maxDf = Int.MaxValue)
      .orderBy(col("doc1"), col("doc2")),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE doc_id < 1000),
      sh AS (SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS s
        FROM w, UNNEST(range(1, greatest(len(ws)-2, 1)+1)) AS t(i))),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT doc1, doc2, CAST(inter.i AS DOUBLE)/(n1.n + n2.n - inter.i) AS jaccard
      FROM inter JOIN sizes n1 ON n1.doc_id = doc1 JOIN sizes n2 ON n2.doc_id = doc2
      WHERE CAST(inter.i AS DOUBLE)/(n1.n + n2.n - inter.i) >= 0.5
      ORDER BY doc1, doc2"""))

  // E3 (exact flavor): brute-force cosine top-5 for a 10-vector query
  // set. Query side broadcast, corpus never shuffles; per-element f32→f64
  // cast is exact and both engines fold left-to-right in f64 → the cosine
  // is bit-equal, so ROW_NUMBER ranks identically.
  val e03 = Q(
    "e03_ann_brute_topk",
    (s, d) => Similarity.bruteForceTopK(
      T.embeddings(s, d), T.embeddings(s, d).filter(col("vec_id") < 10), k = 5),
    Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
      sc AS (SELECT q.qid, e.vec_id,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(e.embedding)+1),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          / (SQRT(LIST_SUM(LIST_TRANSFORM(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           * SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM embeddings e, q WHERE e.vec_id <> q.qid),
      r AS (SELECT qid, vec_id, cos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM sc)
      SELECT qid, vec_id, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""))

  // E2 (embedding flavor): cosine near-dup pairs above a threshold —
  // brute all-pairs, conformance-only (LSH bucket join is the scale
  // path), so the DECLARED slice is bounded to 1000 vectors: the
  // operator is general, but an O(N²) oracle query must not grow
  // quadratically with the bench scale factor.
  val e04 = Q(
    "e04_cosine_dup_pairs",
    (s, d) => Similarity.cosineDupPairs(
      T.embeddings(s, d).filter(col("vec_id") < 1000), threshold = 0.45)
      .orderBy(col("id1"), col("id2")),
    Some("""WITH n AS (SELECT vec_id, embedding,
          SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings WHERE vec_id < 1000)
      SELECT a.vec_id AS id1, b.vec_id AS id2,
        LIST_SUM(LIST_TRANSFORM(range(1, LEN(a.embedding)+1),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE LIST_SUM(LIST_TRANSFORM(range(1, LEN(a.embedding)+1),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) >= 0.45
      ORDER BY id1, id2"""))

  // E2 (MinHash-LSH): banded candidate pairs with estimated Jaccard, in
  // the oracle-bridged hash family (md5-salted 60-bit hashes both engines
  // can state) — the full sketch pipeline (shingle → k-min signature →
  // band slice → bucket join → est_sim filter) is hash-checked by DuckDB,
  // not declared rows-only.
  /** Temp dirs for declared queries' persisted artifacts (indexes,
    * staging, stream sinks/checkpoints): same per-invocation semantics
    * as `createTempDirectory`, plus ONE JVM shutdown hook that
    * best-effort recursively deletes every dir handed out — bench
    * min-of-N reps accumulate only within a run, never across sessions
    * (each rep builds fresh dirs; a long-lived bench host otherwise
    * grows /tmp without bound). Deletion is last-resort cleanup, so
    * failures (files still pinned by Spark's own shutdown) are
    * swallowed. */
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val tempDirHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempDirs.forEach { p =>
        try {
          import java.nio.file.Files
          Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach { f => try { Files.deleteIfExists(f); () } catch { case _: Throwable => () } }
        } catch { case _: Throwable => () }
      }
    }))
  }
  private[graft] def tempQueryDir(prefix: String): String = {
    tempDirHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p.toString
  }

  /** Stage a feed as `n` deterministic micro-batch slice dirs
    * (`$staging/slice0..n-1`, mtimes pinned ascending so the
    * oldest-first file source admits one per trigger — the c57/e54/
    * e97/e121/e122 staging discipline) in ONE pass over the feed:
    * a single partitioned write clustered by the slice key, then a
    * per-dir rename. The per-slice `feed.filter(...).write` loop this
    * replaces recomputed the WHOLE feed once per slice — for the
    * snapshot-diff feeds (e121/e122) that was 3 full-outer diffs of
    * the base table where one suffices (guide §1.2 — pay the pipeline
    * once, not per output). `sliceOf` must be a deterministic [0, n)
    * int for every feed row. */
  private[graft] def stageSliceDirs(feed: DataFrame, sliceOf: Column,
      staging: String, n: Int = 3): Unit = {
    val spark = feed.sparkSession
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$staging/__stage"
    // cluster by the slice key: dynamic partitioning writes exactly one
    // file per slice per task that holds it, and the hash clustering
    // puts each slice in one task — one file per slice, one feed pass
    feed.withColumn("__slice", sliceOf.cast("int"))
      .repartition(n, col("__slice"))
      .write.mode("overwrite").partitionBy("__slice").parquet(tmp)
    for (g <- 0 until n) {
      val src = new org.apache.hadoop.fs.Path(s"$tmp/__slice=$g")
      val dst = new org.apache.hadoop.fs.Path(s"$staging/slice$g")
      if (fs.exists(src)) fs.rename(src, dst)
      else {
        // a slice with zero feed rows still needs a (0-row) file so the
        // drain runs its trigger — same layout the old per-slice write
        // produced for an empty filter result
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row],
            feed.schema)
          .coalesce(1).write.mode("overwrite").parquet(dst.toString)
      }
      fs.listStatus(dst)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .foreach(st => fs.setTimes(st.getPath, 1700000000000L + g * 60000L, -1))
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    ()
  }

  private val mhK = 32
  private val mhBands = 8
  private val mhR = mhK / mhBands
  private val mhFam = Dedup.portableFamily(mhK)

  // The oracle restatement of the portable MinHash-LSH pipeline, shared
  // by e05 (candidate pairs) and e15 (clusters over those pairs).
  /** The MinHash front CTEs over an arbitrary (doc_id, text) source —
    * `documents` for the standalone queries, the filtered set for the
    * e35 capstone. */
  /** The signature half of the MinHash restatement, name-prefixed so a
    * query can run it over TWO sources (e52's corpus and batch sides):
    * `${p}sigl(doc, sig)` plus `${p}banded(doc, sig, band, key)`. */
  private def mhSigCtesFrom(p: String, src: String): String =
    s"""${p}w AS (SELECT doc_id AS doc, string_split(text,' ') ws FROM $src),
      ${p}sh AS (SELECT DISTINCT doc, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) s
             FROM ${p}w, UNNEST(range(1, greatest(len(ws)-2,1)+1)) t(i)),
      ${p}hb AS (SELECT doc, CAST(('0x'||substr(md5(s),1,6)) AS BIGINT) AS h FROM ${p}sh),
      ${p}sigs AS (SELECT doc,
        ${(0 until mhK).map { j =>
          val (a, b) = mhFam(j)
          s"MIN(($a*h + $b) % ${Dedup.PortableP}) AS m$j"
        }.mkString(",\n        ")}
        FROM ${p}hb GROUP BY doc),
      ${p}sigl AS (SELECT doc, [${(0 until mhK).map(j => s"m$j").mkString(",")}] AS sig FROM ${p}sigs),
      ${p}banded AS (SELECT doc, sig, b.band,
          sig[CAST(b.band*$mhR+1 AS INT):CAST(b.band*$mhR+$mhR AS INT)] AS key
        FROM ${p}sigl, (SELECT UNNEST(range(0,$mhBands)) AS band) b)"""

  private def mhCtesFrom(src: String): String =
    s"""${mhSigCtesFrom("", src)},
      pruned AS (SELECT * FROM
          (SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bucket_n FROM banded)
        WHERE bucket_n <= 1000),
      pairs AS (SELECT DISTINCT x.doc AS doc1, y.doc AS doc2, x.sig AS s1, y.sig AS s2
        FROM pruned x JOIN pruned y ON x.band = y.band AND x.key = y.key AND x.doc < y.doc),
      est AS (SELECT doc1, doc2,
          CAST(list_sum(list_transform(range(1,$mhK+1),
            i -> CASE WHEN s1[i] = s2[i] THEN 1 ELSE 0 END)) AS DOUBLE)/$mhK AS est_sim
        FROM pairs)"""

  private val mhCtes: String = mhCtesFrom("documents")

  val e05 = Q(
    "e05_minhash_candidates",
    (s, d) => Dedup.minhashCandidatesPortable(T.documents(s, d), "doc_id", "text",
      k = mhK, bands = mhBands, minEstSim = 0.4)
      .orderBy(col("doc1"), col("doc2")),
    Some(s"""WITH $mhCtes
      SELECT doc1, doc2, est_sim FROM est WHERE est_sim >= 0.4 ORDER BY doc1, doc2"""))

  // E1/E2 composition: near-dup CLUSTERS — connected components over the
  // e05 candidate pairs by min-label propagation (the canonical-document
  // step of a dedup pipeline). The oracle replays the full pipeline and
  // closes the components with a recursive CTE.
  // The recursive connected-components restatement over the candidate
  // pairs, shared by e15 (raw clusters) and e26 (keep-best selection).
  /** Recursive connected-components CTEs over an arbitrary pair CTE
    * body (`SELECT doc1, doc2 ...`) — shared by e15/e26 (sketch-level
    * pairs) and e27 (edit-distance-confirmed pairs). */
  private def ccCtesOver(candSelect: String): String =
    s"""cand AS ($candSelect),
      nodes AS (SELECT DISTINCT doc FROM
        (SELECT doc1 AS doc FROM cand UNION ALL SELECT doc2 AS doc FROM cand)),
      edges AS (SELECT doc1 AS a, doc2 AS b FROM cand
        UNION ALL SELECT doc2 AS a, doc1 AS b FROM cand),
      reach AS (SELECT doc AS src, doc AS node FROM nodes
        UNION
        SELECT r.src, e.b AS node FROM reach r JOIN edges e ON e.a = r.node),
      clusters AS (SELECT src AS doc_id, MIN(node) AS cluster_rep
        FROM reach GROUP BY src)"""

  private val ccCtes: String =
    ccCtesOver("SELECT doc1, doc2 FROM est WHERE est_sim >= 0.4")

  val e15 = Q(
    "e15_near_dup_clusters",
    (s, d) => Dedup.connectedComponents(
      Dedup.minhashCandidatesPortable(T.documents(s, d), "doc_id", "text",
        k = mhK, bands = mhBands, minEstSim = 0.4))
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE $mhCtes,
      $ccCtes
      SELECT doc_id, cluster_rep FROM clusters ORDER BY doc_id"""))

  // E2 (SimHash): banded 64-bit fingerprint candidates, oracle-bridged
  // word-hash family; DuckDB recomputes the per-bit votes, the chunk
  // band join, and the hamming filter exactly.
  val e06 = Q(
    "e06_simhash_candidates",
    (s, d) => Dedup.simhashCandidates(T.documents(s, d), "doc_id", "text",
      chunks = 4, maxHamming = 3)
      .orderBy(col("doc1"), col("doc2")),
    Some("""WITH wh AS (SELECT doc_id AS doc, list_transform(string_split(text,' '),
          w -> CAST(('0x'||substr(md5(w),1,15)) AS BIGINT)) hs FROM documents),
      shh AS (SELECT doc, CAST(list_sum(list_transform(range(0,60), b ->
          CASE WHEN list_sum(list_transform(hs,
            h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
          THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sh
        FROM wh),
      ch AS (SELECT doc, sh, c.band, (sh >> CAST(c.band*16 AS INT)) & 65535 AS key
        FROM shh, (SELECT UNNEST(range(0,4)) AS band) c),
      pairs AS (SELECT DISTINCT x.doc AS doc1, y.doc AS doc2,
          CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
        FROM ch x JOIN ch y ON x.band = y.band AND x.key = y.key AND x.doc < y.doc)
      SELECT doc1, doc2, hamming FROM pairs WHERE hamming <= 3 ORDER BY doc1, doc2"""))

  // E3 (LSH scale path): multi-table hyperplane LSH top-k with hamming-1
  // multi-probe; deterministic seeds. tables × probes / 2^planes bounds
  // the candidate fraction (at 100 TB you'd raise planes with corpus
  // size). The hyperplanes live on the 2⁻¹² dyadic grid, so the oracle
  // below restates them as exact SQL literals and replays the whole
  // pipeline — buckets, probes, candidate dedup, cosine ranking —
  // bit-for-bit.
  private val lshTables = (0 until 8).map(t => Similarity.hyperplanes(8, 64, 42L + t))

  private def planeList(p: Seq[Float]): String =
    p.map(f => new java.math.BigDecimal(f.toDouble).toPlainString)
      .mkString("[", ",", "]")

  // sum over planes of CASE sign-bit shifts == the LshBuckets loop
  private def bucketSql(vec: String, hp: Seq[Seq[Float]]): String =
    hp.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN LIST_SUM(LIST_TRANSFORM(range(1,65), ii -> " +
        s"CAST((${planeList(p)})[ii] AS DOUBLE) * CAST($vec[ii] AS DOUBLE))) >= 0 " +
        s"THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  val e07 = Q(
    "e07_ann_lsh_topk",
    (s, d) => Similarity.lshTopK(
      T.embeddings(s, d), T.embeddings(s, d).filter(col("vec_id") < 10),
      k = 5, planes = 8, dim = 64, tables = 8),
    Some(s"""WITH corp AS (SELECT vec_id, embedding,
        SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS vn
        FROM embeddings),
      buck AS (${lshTables.zipWithIndex.map { case (hp, t) =>
        s"SELECT vec_id, $t AS tbl, ${bucketSql("embedding", hp)} AS bucket FROM embeddings"
      }.mkString("\n        UNION ALL ")}),
      qb AS (SELECT vec_id AS qid, tbl, bucket AS qb0 FROM buck WHERE vec_id < 10),
      probes AS (SELECT qid, tbl, UNNEST([qb0, ${(0 until 8).map(i =>
        s"xor(qb0, ${1L << i})").mkString(",")}]) AS bucket FROM qb),
      cand AS (SELECT DISTINCT p.qid, b.vec_id
        FROM buck b JOIN probes p ON b.tbl = p.tbl AND b.bucket = p.bucket
        WHERE p.qid <> b.vec_id),
      sc AS (SELECT c.qid, c.vec_id,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(q.embedding)+1),
            i -> CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))
            / (q.vn * v.vn) AS cos
        FROM cand c JOIN corp q ON q.vec_id = c.qid JOIN corp v ON v.vec_id = c.vec_id),
      r AS (SELECT qid, vec_id, cos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM sc)
      SELECT qid, vec_id, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""))

  // ---- E4: text analysis ----

  private val stopList =
    TextOps.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")

  val e08 = Q(
    "e08_token_stats",
    (s, d) => TextOps.tokenStats(T.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
        CAST(length(text) AS BIGINT) AS n_chars_calc,
        CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
          / len(string_split(text, ' ')) AS mean_token_len
      FROM documents ORDER BY doc_id"""))

  val e09 = Q(
    "e09_quality_score",
    (s, d) => TextOps.qualityScore(T.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
        CAST(length(text) AS DOUBLE) AS n_chars_calc,
        (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
          / CAST(length(text) AS DOUBLE) AS punct_ratio,
        (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[0-9]', '', 'g')))
          / CAST(length(text) AS DOUBLE) AS digit_ratio,
        CAST(len(list_filter(string_split(text, ' '),
            t -> list_contains($stopList, t))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stopword_ratio,
        LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100) AS length_score
      FROM documents ORDER BY doc_id"""))

  private val langScoreSql = TextOps.stopwords.keys.toSeq.sorted.map { l =>
    val words = TextOps.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
    s"""CAST(len(list_filter(string_split(text, ' '),
        t -> list_contains($words, t))) AS BIGINT) AS score_$l"""
  }.mkString(",\n        ")

  val e10 = Q(
    "e10_lang_id",
    (s, d) => TextOps.langId(T.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""WITH scored AS (SELECT doc_id, $langScoreSql FROM documents),
      best AS (SELECT *, GREATEST(score_de, score_en, score_es, score_fr) AS b FROM scored)
      SELECT doc_id, score_de, score_en, score_es, score_fr,
        CASE WHEN b = 0 THEN 'und'
             WHEN score_de = b THEN 'de' WHEN score_en = b THEN 'en'
             WHEN score_es = b THEN 'es' ELSE 'fr' END AS lang_guess
      FROM best ORDER BY doc_id"""))

  val e11 = Q(
    "e11_fingerprint",
    (s, d) => TextOps.fingerprint(T.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, md5(text) AS fp, CAST(length(text) AS BIGINT) AS n_chars_calc
      FROM documents ORDER BY doc_id"""))

  // ---- E5: multimodal columns ----

  // Metadata-only pass over the media table: binary payload column with
  // typed metadata; the payload is only touched for octet_length/md5 —
  // dimension/format columns prune the binary out of the scan entirely.
  val e12 = Q(
    "e12_multimodal_metadata",
    (s, d) => Multimodal.metadata(Multimodal.mediaTable(T.documents(s, d)))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
        (['png', 'jpeg', 'webp'])[CAST(doc_id % 3 AS INT) + 1] AS format,
        CAST((doc_id % 8) * 160 + 320 AS INT) AS width,
        CAST((doc_id % 5) * 90 + 180 AS INT) AS height,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        md5(text) AS payload_md5
      FROM documents ORDER BY doc_id"""))

  // Decode/resize/feature pipeline through the mapPartitions seam — a
  // REAL codec (VERDICT r6 item 6): the payloads are genuine 24-bit BMP
  // files (headers, bottom-up rows, 4-byte row padding) whose pixel grid
  // carries the document's text bytes, and BmpDecoder parses the wire
  // format (dims from the header, not the metadata). The declared
  // projection scalarizes the 4 corner-pixel B+G+R sums (f0..f3); since
  // pixel (x,y) channel c holds text byte ((y·w+x)·3+c) mod len, every
  // sample is oracle-expressible as ascii(substr(...)) arithmetic on the
  // (pure-ASCII) fixture text.
  private val bmpCorners = Seq("0", "(w - 1)", "((h - 1) * w)", "(h * w - 1)")
  val e13 = Q(
    "e13_multimodal_decode",
    (s, d) => {
      val feats = Multimodal.decodeFeatures(
        s, Multimodal.bmpMediaTable(s, T.documents(s, d)),
        targetW = 6, targetH = 4, decoder = Multimodal.BmpDecoder).toDF()
      feats.select(
        (col("doc_id") +: col("n_bytes") +: col("format") +:
          col("out_width") +: col("out_height") +:
          (0 until 4).map(i => try_element_at(col("feature"), lit(i + 1)).as(s"f$i"))): _*)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH g AS (SELECT doc_id, text,
          CAST(4 + doc_id % 5 AS INT) AS w, CAST(3 + doc_id % 4 AS INT) AS h,
          octet_length(encode(text)) AS L
        FROM documents)
      SELECT doc_id,
        CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
        'bmp' AS format,
        LEAST(w, 6) AS out_width,
        LEAST(h, 4) AS out_height,
        ${bmpCorners.zipWithIndex.map { case (pos, i) =>
          s"""CAST(CASE WHEN L = 0 THEN 0 ELSE
          ascii(substr(text, (($pos * 3 + 0) % L) + 1, 1)) +
          ascii(substr(text, (($pos * 3 + 1) % L) + 1, 1)) +
          ascii(substr(text, (($pos * 3 + 2) % L) + 1, 1)) END AS BIGINT) AS f$i"""
        }.mkString(",\n        ")}
      FROM g ORDER BY doc_id"""))

  // E3 (IVF scale path): coarse-quantizer cells + nprobe probing — the
  // second ANN geometry next to e07's LSH. The centroid draw is the
  // engine-neutral md5 hash order and the Lloyd refinement passes use
  // DECIMAL(38,6) component means rounded to f32, so the oracle replays
  // the identical draw, refinement, cell assignment (argmax cos, ties →
  // smallest cid), probing, and ranking.

  /** One oracle-side Lloyd round: assign to `in` centroids, decimal
    * component means per cell, f32-round, empty cells keep the previous
    * centroid — the exact restatement of the Spark pass in ivfTopK. */
  private def lloydRoundSql(n: Int, in: String, out: String): String =
    s"""ac_$n AS (SELECT c.vec_id, ct.cid,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(c.embedding)+1),
            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)))
            / (c.vn * ct.cn) AS ccos
        FROM corp c, $in ct),
      assign_$n AS (SELECT vec_id, cid FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn FROM ac_$n)
        WHERE crn = 1),
      comp_$n AS (SELECT a.cid, t.i AS idx, c.embedding[t.i] AS x
        FROM assign_$n a JOIN corp c USING (vec_id),
          UNNEST(range(1, LEN(c.embedding)+1)) AS t(i)),
      means_$n AS (SELECT cid, idx,
          CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS m
        FROM comp_$n GROUP BY cid, idx),
      newc_$n AS (SELECT cid, LIST(CAST(m AS REAL) ORDER BY idx) AS ce
        FROM means_$n GROUP BY cid),
      $out AS (SELECT s.cid, COALESCE(nn.ce, s.ce) AS ce,
          SQRT(LIST_SUM(LIST_TRANSFORM(COALESCE(nn.ce, s.ce),
            x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cn
        FROM $in s LEFT JOIN newc_$n nn USING (cid))"""
  /** The full IVF top-k restatement as a reusable CTE chain ending in
    * `r` (qid, vec_id, cos, rn) — e14 selects from it directly; e77
    * composes it with the brute-force ground truth for recall@k. ONE
    * source of truth for the oracle-side IVF replay. */
  private def ivfTopkCtes: String =
    s"""corp AS (SELECT vec_id, embedding,
        SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS vn
        FROM embeddings),
      picked AS (SELECT vec_id, embedding FROM embeddings
        ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        LIMIT 16),
      seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS ce,
          SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cn
        FROM picked),
      ${lloydRoundSql(1, "seeds", "cents_1")},
      ${lloydRoundSql(2, "cents_1", "cents")},
      ac AS (SELECT c.vec_id, c.vn, ct.cid,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(c.embedding)+1),
            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)))
            / (c.vn * ct.cn) AS ccos
        FROM corp c, cents ct),
      assign AS (SELECT vec_id, cid FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn FROM ac)
        WHERE crn = 1),
      probes AS (SELECT vec_id AS qid, cid FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn
           FROM ac WHERE vec_id < 10)
        WHERE crn <= 4),
      sc AS (SELECT p.qid, a.vec_id,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(q.embedding)+1),
            i -> CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))
            / (q.vn * v.vn) AS cos
        FROM assign a JOIN probes p ON a.cid = p.cid AND p.qid <> a.vec_id
        JOIN corp q ON q.vec_id = p.qid JOIN corp v ON v.vec_id = a.vec_id),
      r AS (SELECT qid, vec_id, cos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM sc)"""

  val e14 = Q(
    "e14_ann_ivf_topk",
    (s, d) => Similarity.ivfTopK(
      T.embeddings(s, d), T.embeddings(s, d).filter(col("vec_id") < 10),
      k = 5, nlist = 16, nprobe = 4, lloydIters = 2),
    Some(s"""WITH $ivfTopkCtes
      SELECT qid, vec_id, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""))

  // E4 (BPE-ish token counting, oracle-portable): subword class counts
  // from an alternation both Java regex and RE2 interpret identically.
  val e16 = Q(
    "e16_subword_classes",
    (s, d) => {
      TextOps.subwordClasses(T.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_subwords,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_alpha_runs,
        CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs,
        CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_marks
      FROM documents ORDER BY doc_id"""))

  // E5 (frame sampling): every stride-th byte offset of the payload as a
  // "frame" row — the declared projection explodes to scalars (array
  // columns break the driver's pandas compare, the e13 lesson).
  val e17 = Q(
    "e17_frame_offsets",
    (s, d) => Multimodal.frameOffsets(
      Multimodal.mediaTable(T.documents(s, d)), stride = 7)
      .select(col("doc_id"), posexplode(col("frame_offsets")).as(Seq("pos", "off")))
      .orderBy(col("doc_id"), col("pos")),
    Some("""SELECT doc_id, CAST(off // 7 AS INT) AS pos, CAST(off AS INT) AS off
      FROM documents, UNNEST(range(0, octet_length(encode(text)), 7)) AS t(off)
      ORDER BY doc_id, pos"""))

  // E-suite (sampling/mixing): deterministic stratified hash sampling —
  // the reproducible "data mixing" selection; the oracle replays the
  // identical membership test.
  private val mixRates = Map("src0" -> 800, "src1" -> 500, "src2" -> 200)
  private val mixDefault = 100
  val e18 = Q(
    "e18_stratified_sample",
    (s, d) => Sampling.stratifiedHashSample(
      T.documents(s, d), "doc_id", "source", mixRates, defaultPermille = mixDefault)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, source FROM documents
      WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,6)) AS BIGINT) % 1000 <
        CASE source ${mixRates.toSeq.sortBy(_._1).map { case (k, v) =>
          s"WHEN '$k' THEN $v" }.mkString(" ")} ELSE $mixDefault END
      ORDER BY doc_id"""))

  // E-suite (corpus statistics): per-source length distribution — count,
  // order-independent mean, exact interpolated percentiles.
  val e19 = Q(
    "e19_length_stats",
    (s, d) => Sampling.lengthStats(T.documents(s, d), "source", "text")
      .orderBy(col("source")),
    Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CAST(length(text) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(length(text)) AS mean_len,
        quantile_cont(length(text), 0.5) AS p50,
        quantile_cont(length(text), 0.9) AS p90,
        quantile_cont(length(text), 0.99) AS p99
      FROM documents GROUP BY source ORDER BY source"""))

  // E4 capstone: the pre-training quality filter — language gate +
  // quality floors in one map-only pass, the composition every corpus
  // pipeline runs before tokenization.
  val e20 = Q(
    "e20_quality_filter",
    (s, d) => TextOps.qualityFilter(T.documents(s, d), "doc_id", "text",
      lang = "en", minTokens = 20, maxPunctRatio = 0.15, minStopwordRatio = 0.01)
      .orderBy(col("doc_id")),
    Some(s"""WITH scored AS (SELECT doc_id, $langScoreSql,
        (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
          / CAST(length(text) AS DOUBLE) AS punct_ratio,
        CAST(len(list_filter(string_split(text, ' '),
            t -> list_contains($stopList, t))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stopword_ratio,
        LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100) AS length_score,
        len(string_split(text, ' ')) AS n_tokens
      FROM documents),
      best AS (SELECT *, GREATEST(score_de, score_en, score_es, score_fr) AS b FROM scored),
      lang AS (SELECT doc_id, punct_ratio, stopword_ratio, length_score, n_tokens,
        CASE WHEN b = 0 THEN 'und'
             WHEN score_de = b THEN 'de' WHEN score_en = b THEN 'en'
             WHEN score_es = b THEN 'es' ELSE 'fr' END AS lang_guess
      FROM best)
      SELECT doc_id, lang_guess, punct_ratio, stopword_ratio, length_score
      FROM lang
      WHERE lang_guess = 'en' AND n_tokens >= 20
        AND punct_ratio <= 0.15 AND stopword_ratio >= 0.01
      ORDER BY doc_id"""))

  // E2/E4 capstone: benchmark decontamination — per eval-source doc, the
  // fraction of its distinct 3-gram shingles appearing anywhere in the
  // train source. Declared at threshold 0.0 (EVERY eval doc, including
  // zero-overlap ones — the left-join contract) so the report itself is
  // hash-checked; production gates at ~0.2-0.8.
  // Spark joins 8-byte shingle hashes; the oracle joins the strings and
  // confirms the counts (the e02 collision argument).
  val e21 = Q(
    "e21_contamination",
    (s, d) => Dedup.contaminationOverlap(T.documents(s, d), "doc_id", "text",
      "source", evalSource = "src2", trainSource = "src0",
      shingleWidth = 3, threshold = 0.0)
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id, source, string_split(text,' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, source, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) s
             FROM w, UNNEST(range(1, greatest(len(ws)-2,1)+1)) t(i)),
      train AS (SELECT DISTINCT s FROM sh WHERE source='src0'),
      ev AS (SELECT doc_id, s FROM sh WHERE source='src2'),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM ev GROUP BY doc_id),
      hits AS (SELECT e.doc_id, COUNT(*) AS h FROM ev e JOIN train t ON e.s = t.s
               GROUP BY e.doc_id)
      SELECT s.doc_id, CAST(s.n AS INT) AS n_shingles, COALESCE(h.h, 0) AS n_hit,
        CAST(COALESCE(h.h, 0) AS DOUBLE)/s.n AS overlap
      FROM sizes s LEFT JOIN hits h USING (doc_id)
      ORDER BY doc_id"""))

  // E3 (int8 tier): top-k over SYMMETRICALLY QUANTIZED vectors — the 4×
  // storage/bandwidth representation, hash-checked end-to-end: the
  // truncating quantizer (no round-half ties), the scale-free cosine
  // over integer dots, and the ranking are all restated by the oracle.
  val e22 = Q(
    "e22_ann_int8_topk",
    (s, d) => {
      val q = Similarity.quantizeInt8(T.embeddings(s, d))
      Similarity.bruteForceTopK(q, q.filter(col("vec_id") < 10), k = 5, vecCol = "q")
        .withColumnRenamed("cos", "qcos")
    },
    Some("""WITH n AS (SELECT vec_id, embedding,
          LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS ma
        FROM embeddings),
      qv AS (SELECT vec_id, CASE WHEN ma = 0 THEN LIST_TRANSFORM(embedding, x -> 0.0)
          ELSE LIST_TRANSFORM(embedding, x -> TRUNC(CAST(x AS DOUBLE) * 127.0 / ma)) END AS q
        FROM n),
      qn AS (SELECT vec_id, q, SQRT(LIST_SUM(LIST_TRANSFORM(q, x -> x*x))) AS nq FROM qv),
      sc AS (SELECT a.vec_id AS qid, b.vec_id,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(a.q)+1), i -> a.q[i]*b.q[i])) / (a.nq*b.nq) AS qcos
        FROM qn a JOIN qn b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < 10),
      r AS (SELECT qid, vec_id, qcos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qcos DESC, vec_id) AS rn FROM sc)
      SELECT qid, vec_id, qcos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""))

  // E3 (LSH-bucketed dup pairs): the SCALE path for embedding-cosine
  // near-dup detection, hash-checked end-to-end — e04's exact all-pairs
  // flavor is fenced to a 1000-vector slice, while this runs the FULL
  // corpus: candidates from the deterministic hyperplane buckets (same
  // dyadic-grid family as e07, restated as SQL literals), exact cosine
  // on candidates only. Recall is the hyperplane collision rate; every
  // reported pair carries its true cosine (precision 1).
  val e23 = Q(
    "e23_cosine_dup_lsh",
    (s, d) => Similarity.lshDupPairs(T.embeddings(s, d), threshold = 0.4)
      .orderBy(col("id1"), col("id2")),
    Some(s"""WITH corp AS (SELECT vec_id, embedding,
        SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS vn
        FROM embeddings),
      buck AS (${lshTables.zipWithIndex.map { case (hp, t) =>
        s"SELECT vec_id, $t AS tbl, ${bucketSql("embedding", hp)} AS bucket FROM embeddings"
      }.mkString("\n        UNION ALL ")}),
      pruned AS (SELECT * FROM
          (SELECT *, COUNT(*) OVER (PARTITION BY tbl, bucket) AS bucket_n FROM buck)
        WHERE bucket_n <= 1000),
      pairs AS (SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
        FROM pruned x JOIN pruned y ON x.tbl = y.tbl AND x.bucket = y.bucket
          AND x.vec_id < y.vec_id),
      sc AS (SELECT p.id1, p.id2,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(a.embedding)+1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
            / (a.vn * b.vn) AS cos
        FROM pairs p JOIN corp a ON a.vec_id = p.id1 JOIN corp b ON b.vec_id = p.id2)
      SELECT id1, id2, cos FROM sc WHERE cos >= 0.4 ORDER BY id1, id2"""))

  // E4 (repetition): Gopher-style intra-document duplicate n-gram
  // fractions — the quality gate that catches boilerplate / looped
  // generations before any cross-document dedup runs. Spark sizes the
  // native shingle-hash multiset against its distinct form (map-only,
  // codegen); the oracle rebuilds the n-gram STRINGS via list
  // comprehensions and confirms (the usual collision argument).
  val e24 = Q(
    "e24_repetition",
    (s, d) => TextOps.repetitionStats(T.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
      g AS (SELECT doc_id, ws,
        [concat_ws(' ', ws[i], ws[i+1]) FOR i IN range(1, greatest(len(ws)-1,1)+1)] AS g2,
        [concat_ws(' ', ws[i], ws[i+1], ws[i+2]) FOR i IN range(1, greatest(len(ws)-2,1)+1)] AS g3
        FROM w)
      SELECT doc_id,
        CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)/len(g2) AS dup_2gram_ratio,
        CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)/len(g3) AS dup_3gram_ratio,
        CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE)/len(ws) AS dup_token_ratio
      FROM g ORDER BY doc_id"""))

  // E2 (edit-distance refinement): the exact final filter of a fuzzy
  // dedup pipeline — MinHash-LSH proposes candidates (the shared
  // oracle-bridged pipeline of e05/e15), then true Levenshtein distance
  // confirms. The distance runs ONLY on candidate pairs (never all
  // pairs — the O(len²) DP per pair is affordable exactly because the
  // sketch bounds the pair count), and both engines implement classic
  // Levenshtein, so the refinement is hash-checked end-to-end. The
  // threshold (5 edits) genuinely splits the fixture's candidate set.
  val e25 = Q(
    "e25_editdist_dedup",
    (s, d) => {
      val docs = T.documents(s, d)
      Dedup.minhashCandidatesPortable(docs, "doc_id", "text",
        k = mhK, bands = mhBands, minEstSim = 0.5)
        .join(docs.select(col("doc_id").as("doc1"), col("text").as("t1")), "doc1")
        .join(docs.select(col("doc_id").as("doc2"), col("text").as("t2")), "doc2")
        .select(col("doc1"), col("doc2"), col("est_sim"),
          levenshtein(col("t1"), col("t2")).cast("int").as("edit_dist"))
        .filter(col("edit_dist") <= 5)
        .orderBy(col("doc1"), col("doc2"))
    },
    Some(s"""WITH $mhCtes,
      cand AS (SELECT doc1, doc2, est_sim FROM est WHERE est_sim >= 0.5)
      SELECT c.doc1, c.doc2, c.est_sim,
        CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
      FROM cand c JOIN documents a ON a.doc_id = c.doc1
        JOIN documents b ON b.doc_id = c.doc2
      WHERE levenshtein(a.text, b.text) <= 5
      ORDER BY c.doc1, c.doc2"""))

  // E1/E2 capstone: the dedup DECISION — per near-dup cluster keep the
  // highest-quality member (ties to the smallest id), report the
  // cluster size. Composes the e15 cluster pipeline with the e09
  // length_score signal; the oracle replays clusters (recursive CC) +
  // score + the ROW_NUMBER pick. What actually ships from a dedup pass.
  val e26 = Q(
    "e26_keep_best",
    (s, d) => {
      val docs = T.documents(s, d)
      val clusters = Dedup.connectedComponents(
        Dedup.minhashCandidatesPortable(docs, "doc_id", "text",
          k = mhK, bands = mhBands, minEstSim = 0.4))
      val scores = docs.select(col("doc_id"),
        TextOps.lengthScoreCol(TextOps.tokens(col("text"))).as("length_score"))
      Dedup.keepBest(clusters, scores, scoreCol = "length_score")
        .orderBy(col("cluster_rep"))
    },
    Some(s"""WITH RECURSIVE $mhCtes,
      $ccCtes,
      sc AS (SELECT doc_id,
          LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100) AS length_score
        FROM documents),
      ranked AS (SELECT c.cluster_rep, c.doc_id, sc.length_score,
          ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
            ORDER BY sc.length_score DESC, c.doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY c.cluster_rep) AS n_members
        FROM clusters c JOIN sc ON sc.doc_id = c.doc_id)
      SELECT cluster_rep, doc_id AS keep_id, length_score, n_members
      FROM ranked WHERE rn = 1 ORDER BY cluster_rep"""))

  // The composed pipeline (VERDICT r6 item 2): e05 (candidates) → e25
  // (edit-distance confirm) → e15 (clusters) → e26 (keep-best) as ONE
  // flow over ONE persisted candidate front, instead of four queries
  // that each recompute the shingle/signature/band front. Clustering
  // runs on CONFIRMED pairs (sketch proposes, exact Levenshtein ≤ 5
  // disposes), so the clusters — and the survivors — can differ from
  // e26's sketch-only clusters: this is the pipeline a user actually
  // ships. The oracle replays candidates (mhCtes), confirmation
  // (levenshtein join), recursive CC over the confirmed pairs, and the
  // ROW_NUMBER pick, end to end.
  val e27 = Q(
    "e27_dedup_pipeline",
    (s, d) => {
      val docs = T.documents(s, d)
      val scores = docs.select(col("doc_id"),
        TextOps.lengthScoreCol(TextOps.tokens(col("text"))).as("length_score"))
      Dedup.dedupPipeline(docs, "doc_id", "text", scores,
        scoreCol = "length_score", k = mhK, bands = mhBands,
        minEstSim = 0.4, maxEdit = 5)
        .kept.orderBy(col("cluster_rep"))
    },
    Some(s"""WITH RECURSIVE $mhCtes,
      ${ccCtesOver(s"""SELECT c.doc1, c.doc2 FROM est c
          JOIN documents a ON a.doc_id = c.doc1
          JOIN documents b ON b.doc_id = c.doc2
          WHERE c.est_sim >= 0.4 AND levenshtein(a.text, b.text) <= 5""")},
      sc AS (SELECT doc_id,
          LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100) AS length_score
        FROM documents),
      ranked AS (SELECT c.cluster_rep, c.doc_id, sc.length_score,
          ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
            ORDER BY sc.length_score DESC, c.doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY c.cluster_rep) AS n_members
        FROM clusters c JOIN sc ON sc.doc_id = c.doc_id)
      SELECT cluster_rep, doc_id AS keep_id, length_score, n_members
      FROM ranked WHERE rn = 1 ORDER BY cluster_rep"""))

  // E3 at production nlist (VERDICT r6 item 7): the same IVF geometry as
  // e14 but at nlist=512 — past the literal-projection ceiling, so the
  // centroid matrix rides as ONE codegen reference object through the
  // native [[graft.functions.IvfCells]] expression (O(1) generated code
  // at any nlist; plan-asserted in DedupSimilaritySpec). lloydIters=0
  // keeps the oracle to the seed draw + assignment + probe + rank — the
  // refinement arithmetic is already oracle-pinned at nlist=16 by e14,
  // and the thing under test HERE is the large-matrix codegen path.
  // When the corpus is smaller than nlist (sf0.01: 500 vectors) both
  // engines degrade identically: every vector seeds its own cell.
  val e28 = Q(
    "e28_ann_ivf_large_nlist",
    (s, d) => Similarity.ivfTopK(
      T.embeddings(s, d), T.embeddings(s, d).filter(col("vec_id") < 10),
      k = 5, nlist = 512, nprobe = 8, lloydIters = 0),
    Some("""WITH corp AS (SELECT vec_id, embedding,
        SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS vn
        FROM embeddings),
      picked AS (SELECT vec_id, embedding FROM embeddings
        ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        LIMIT 512),
      cents AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS ce,
          SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cn
        FROM picked),
      ac AS (SELECT c.vec_id, c.vn, ct.cid,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(c.embedding)+1),
            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)))
            / (c.vn * ct.cn) AS ccos
        FROM corp c, cents ct),
      assign AS (SELECT vec_id, cid FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn FROM ac)
        WHERE crn = 1),
      probes AS (SELECT vec_id AS qid, cid FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn
           FROM ac WHERE vec_id < 10)
        WHERE crn <= 8),
      sc AS (SELECT p.qid, a.vec_id,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(q.embedding)+1),
            i -> CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))
            / (q.vn * v.vn) AS cos
        FROM assign a JOIN probes p ON a.cid = p.cid AND p.qid <> a.vec_id
        JOIN corp q ON q.vec_id = p.qid JOIN corp v ON v.vec_id = a.vec_id),
      r AS (SELECT qid, vec_id, cos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM sc)
      SELECT qid, vec_id, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""))

  // E4 (chunking): token-window chunks with overlap — the prep step
  // between corpus filtering and tokenization. Map-only (no shuffle);
  // the oracle replays the identical start-position arithmetic
  // (Spark sequence(0, n-ov-1, step) inclusive ≡ DuckDB
  // range(0, max(n-ov,1), step) exclusive) and list slicing.
  val e29 = Q(
    "e29_chunking",
    (s, d) => TextOps.chunk(T.documents(s, d), "doc_id", "text",
      chunkTokens = 64, overlapTokens = 16)
      .orderBy(col("doc_id"), col("chunk_id")),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      st AS (SELECT doc_id, ws, t.s AS start,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t.s) - 1 AS chunk_id
        FROM w, UNNEST(range(0, greatest(len(ws) - 16, 1), 48)) AS t(s))
      SELECT doc_id, chunk_id,
        CAST(LEAST(64, len(ws) - start) AS BIGINT) AS n_tokens,
        array_to_string(ws[start+1 : start+64], ' ') AS chunk_text
      FROM st ORDER BY doc_id, chunk_id"""))

  // E4 (retrieval): deterministic TF-IDF top-k — integer idf weights
  // ((N·10⁶) div df: floor division is exact and engine-portable where
  // float ln(N/df) drifts in the last ulp), DECIMAL-exact score sums.
  // Weights broadcast; the posting-list side shuffles on hashed keys.
  val e30 = Q(
    "e30_tfidf_search",
    (s, d) => TextOps.tfidfTopK(T.documents(s, d), "doc_id", "text",
      terms = Seq("vector", "merge", "window"), k = 10)
      .orderBy(col("rn")),
    Some("""WITH tok AS (SELECT doc_id, t.term FROM documents,
          UNNEST(string_split(text, ' ')) AS t(term)),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      w AS (SELECT term,
          ((SELECT COUNT(*) FROM documents) * 1000000) // COUNT(*) AS w
        FROM tf WHERE term IN ('vector', 'merge', 'window') GROUP BY term),
      sc AS (SELECT tf.doc_id, CAST(SUM(tf.tf * w.w) AS BIGINT) AS score
        FROM tf JOIN w USING (term) GROUP BY 1),
      r AS (SELECT doc_id, score,
          ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc)
      SELECT doc_id, score, rn FROM r WHERE rn <= 10 ORDER BY rn"""))

  // E5 (real resize): nearest-neighbor resample inside the BMP decode —
  // output pixel (x,y) samples source ((x·w) div outW, (y·h) div outH),
  // so the features are corners of the RESIZED grid (≠ e13's source
  // corners whenever the box actually shrinks: fixture widths reach 8
  // against the 6×4 target). Same ascii(substr(...)) oracle arithmetic,
  // composed with the integer grid map.
  private val bmpResizeCorners =
    Seq(("0", "0"), ("ow - 1", "0"), ("0", "oh - 1"), ("ow - 1", "oh - 1"))
  val e31 = Q(
    "e31_multimodal_resize",
    (s, d) => {
      val feats = Multimodal.decodeFeatures(
        s, Multimodal.bmpMediaTable(s, T.documents(s, d)),
        targetW = 6, targetH = 4, decoder = Multimodal.BmpResizeDecoder).toDF()
      feats.select(
        (col("doc_id") +: col("n_bytes") +: col("format") +:
          col("out_width") +: col("out_height") +:
          (0 until 4).map(i => try_element_at(col("feature"), lit(i + 1)).as(s"f$i"))): _*)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH g AS (SELECT doc_id, text,
          CAST(4 + doc_id % 5 AS INT) AS w, CAST(3 + doc_id % 4 AS INT) AS h,
          LEAST(CAST(4 + doc_id % 5 AS INT), 6) AS ow,
          LEAST(CAST(3 + doc_id % 4 AS INT), 4) AS oh,
          octet_length(encode(text)) AS L
        FROM documents)
      SELECT doc_id,
        CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
        'bmp' AS format,
        ow AS out_width,
        oh AS out_height,
        ${bmpResizeCorners.zipWithIndex.map { case ((xo, yo), i) =>
          val pos = s"(((($yo) * h) // oh) * w + ((($xo) * w) // ow))"
          s"""CAST(CASE WHEN L = 0 THEN 0 ELSE
          ascii(substr(text, (($pos * 3 + 0) % L) + 1, 1)) +
          ascii(substr(text, (($pos * 3 + 1) % L) + 1, 1)) +
          ascii(substr(text, (($pos * 3 + 2) % L) + 1, 1)) END AS BIGINT) AS f$i"""
        }.mkString(",\n        ")}
      FROM g ORDER BY doc_id"""))

  // E4 (novelty): inverse-bigram-frequency rarity — the corpus-level
  // complement of e24's intra-doc repetition. One exploded bigram
  // stream, one gram exchange (window count, no count-table join),
  // integer div contributions, a single final IEEE division rounded.
  val e32 = Q(
    "e32_novelty",
    (s, d) => TextOps.noveltyScore(T.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS (SELECT doc_id, concat_ws(' ', ws[i], ws[i+1]) AS gram
        FROM w, UNNEST(range(1, greatest(len(ws) - 1, 1) + 1)) AS t(i)),
      c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS cf FROM g),
      sc AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(1000000 // cf) AS nv
        FROM c GROUP BY 1)
      SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        ROUND(CAST(nv AS DOUBLE) / n_bigrams, 4) AS novelty
      FROM sc ORDER BY doc_id"""))

  // E5 (error isolation): lenient decode over a batch with
  // deterministically corrupted payloads (every 97th doc carries
  // non-BMP bytes) — bad rows fail AS DATA (ok=false, zeroed box,
  // null feature) instead of aborting the task, the O24 discipline at
  // the row level. The oracle replays the corruption rule and both
  // arms' arithmetic; the reject MESSAGE is engine-specific and stays
  // out of the declared projection.
  val e33 = Q(
    "e33_multimodal_lenient",
    (s, d) => {
      val res = Multimodal.decodeFeaturesLenient(
        s, Multimodal.bmpMediaTable(s, T.documents(s, d), corruptEvery = 97),
        targetW = 6, targetH = 4, decoder = Multimodal.BmpDecoder).toDF()
      res.select(col("doc_id"), col("ok"), col("n_bytes"),
          col("out_width"), col("out_height"),
          try_element_at(col("feature"), lit(1)).as("f0"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH g AS (SELECT doc_id, text,
          CAST(4 + doc_id % 5 AS INT) AS w, CAST(3 + doc_id % 4 AS INT) AS h,
          octet_length(encode(text)) AS L
        FROM documents)
      SELECT doc_id,
        (doc_id % 97 <> 0) AS ok,
        CASE WHEN doc_id % 97 = 0 THEN CAST(L AS BIGINT)
             ELSE CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) END AS n_bytes,
        CAST(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE LEAST(w, 6) END AS INT) AS out_width,
        CAST(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE LEAST(h, 4) END AS INT) AS out_height,
        CASE WHEN doc_id % 97 = 0 THEN NULL
             WHEN L = 0 THEN 0
             ELSE CAST(ascii(substr(text, ((0 * 3 + 0) % L) + 1, 1)) +
                  ascii(substr(text, ((0 * 3 + 1) % L) + 1, 1)) +
                  ascii(substr(text, ((0 * 3 + 2) % L) + 1, 1)) AS BIGINT) END AS f0
      FROM g ORDER BY doc_id"""))

  // E3 (composed tiers): IVF at production nlist over the INT8-quantized
  // corpus — the storage tier (e22: 4× smaller vectors, exact integer
  // dot products) composed with the coarse geometry (e28: native
  // reference-object cells). Quantized components are integral, so
  // every dot accumulates exactly in f64 regardless of order — the
  // quantized tier is MORE oracle-stable than full precision, which is
  // part of why real systems ship it. Oracle = e22's quantization CTE
  // feeding e28's seed-draw/assign/probe/rank skeleton.
  val e34 = Q(
    "e34_ann_ivf_int8",
    (s, d) => {
      val q = Similarity.quantizeInt8(T.embeddings(s, d))
        .select(col("vec_id"), col("q").as("embedding"))
      Similarity.ivfTopK(q, q.filter(col("vec_id") < 10),
        k = 5, nlist = 512, nprobe = 8, lloydIters = 0)
        .withColumnRenamed("cos", "qcos")
    },
    Some("""WITH n AS (SELECT vec_id, embedding,
          LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS ma
        FROM embeddings),
      qv AS (SELECT vec_id, CASE WHEN ma = 0 THEN LIST_TRANSFORM(embedding, x -> 0.0)
          ELSE LIST_TRANSFORM(embedding, x -> TRUNC(CAST(x AS DOUBLE) * 127.0 / ma)) END AS q
        FROM n),
      corp AS (SELECT vec_id, q,
          SQRT(LIST_SUM(LIST_TRANSFORM(q, x -> x*x))) AS vn FROM qv),
      picked AS (SELECT vec_id, q FROM qv
        ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        LIMIT 512),
      cents AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, q AS ce,
          SQRT(LIST_SUM(LIST_TRANSFORM(q, x -> x*x))) AS cn
        FROM picked),
      ac AS (SELECT c.vec_id, c.vn, ct.cid,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(c.q)+1), i -> c.q[i] * ct.ce[i]))
            / (c.vn * ct.cn) AS ccos
        FROM corp c, cents ct),
      assign AS (SELECT vec_id, cid FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn FROM ac)
        WHERE crn = 1),
      probes AS (SELECT vec_id AS qid, cid FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn
           FROM ac WHERE vec_id < 10)
        WHERE crn <= 8),
      sc AS (SELECT p.qid, a.vec_id,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(q.q)+1), i -> q.q[i] * v.q[i]))
            / (q.vn * v.vn) AS qcos
        FROM assign a JOIN probes p ON a.cid = p.cid AND p.qid <> a.vec_id
        JOIN corp q ON q.vec_id = p.qid JOIN corp v ON v.vec_id = a.vec_id),
      r AS (SELECT qid, vec_id, qcos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qcos DESC, vec_id) AS rn FROM sc)
      SELECT qid, vec_id, qcos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""))

  // THE capstone: the full corpus-prep pipeline a training-data run
  // ships, as ONE declared flow — quality filter (e20's gates) →
  // fuzzy dedup over the SURVIVING docs (e27's shared-front pipeline:
  // candidates → edit-distance confirm → CC → keep-best) → token-window
  // chunking (e29) of the deduped corpus. Non-clustered filtered docs
  // pass through untouched; clustered docs are represented by their
  // keep-best winner. The oracle composes the already-pinned CTEs of
  // every stage end to end (filter gates → MinHash front over the
  // filtered set → levenshtein confirm → recursive CC → ROW_NUMBER
  // pick → chunk arithmetic).
  val e35 = Q(
    "e35_corpus_pipeline",
    (s, d) => {
      val docs = T.documents(s, d)
      val filtered = TextOps.qualityFilter(docs, "doc_id", "text",
        lang = "en", minTokens = 20, maxPunctRatio = 0.15, minStopwordRatio = 0.01)
      val fdocs = docs.join(filtered.select("doc_id"), "doc_id")
      val pipe = Dedup.dedupPipeline(fdocs, "doc_id", "text",
        filtered.select(col("doc_id"), col("length_score")),
        scoreCol = "length_score", k = mhK, bands = mhBands,
        minEstSim = 0.4, maxEdit = 5)
      val survivors = fdocs.select("doc_id")
        .join(pipe.clusters.select("doc_id"), Seq("doc_id"), "left_anti")
        .union(pipe.kept.select(col("keep_id").as("doc_id")))
      val out = TextOps.chunk(fdocs.join(survivors, "doc_id"), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)
        .orderBy(col("doc_id"), col("chunk_id"))
      // materialize before releasing the pipeline's shared front; the
      // single-live-copy discipline releases the PREVIOUS invocation's
      // copy (bench runs the query 7×; see capstoneCache). The
      // production flow writes to a sink instead and caches nothing —
      // CorpusPipeline.prepareAndWrite.
      val rows = capstoneCache(out)
      pipe.unpersistAll()
      rows
    },
    Some(s"""WITH RECURSIVE scored AS (SELECT doc_id, $langScoreSql,
        (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
          / CAST(length(text) AS DOUBLE) AS punct_ratio,
        CAST(len(list_filter(string_split(text, ' '),
            t -> list_contains($stopList, t))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stopword_ratio,
        LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100) AS length_score,
        len(string_split(text, ' ')) AS n_tokens
      FROM documents),
      best AS (SELECT *, GREATEST(score_de, score_en, score_es, score_fr) AS b FROM scored),
      keepf AS (SELECT doc_id, length_score FROM best
        WHERE b > 0 AND score_en = b AND score_de <> b AND n_tokens >= 20
          AND punct_ratio <= 0.15 AND stopword_ratio >= 0.01),
      fdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN keepf USING (doc_id)),
      ${mhCtesFrom("fdocs")},
      ${ccCtesOver(s"""SELECT c.doc1, c.doc2 FROM est c
          JOIN fdocs a ON a.doc_id = c.doc1
          JOIN fdocs b ON b.doc_id = c.doc2
          WHERE c.est_sim >= 0.4 AND levenshtein(a.text, b.text) <= 5""")},
      ranked AS (SELECT c.cluster_rep, c.doc_id,
          ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
            ORDER BY k.length_score DESC, c.doc_id) AS rn
        FROM clusters c JOIN keepf k ON k.doc_id = c.doc_id),
      survivors AS (SELECT doc_id FROM fdocs
          WHERE doc_id NOT IN (SELECT doc_id FROM clusters)
        UNION ALL SELECT doc_id FROM ranked WHERE rn = 1),
      sdocs AS (SELECT f.doc_id, string_split(f.text, ' ') AS ws
        FROM fdocs f JOIN survivors s USING (doc_id)),
      st AS (SELECT doc_id, ws, t.s AS start,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t.s) - 1 AS chunk_id
        FROM sdocs, UNNEST(range(0, greatest(len(ws) - 16, 1), 48)) AS t(s))
      SELECT doc_id, chunk_id,
        CAST(LEAST(64, len(ws) - start) AS BIGINT) AS n_tokens,
        array_to_string(ws[start+1 : start+64], ' ') AS chunk_text
      FROM st ORDER BY doc_id, chunk_id"""))

  // E1 (paragraph granularity): boilerplate removal — paragraphs whose
  // fingerprint occurs in more than one distinct document are dropped
  // from EVERY document, and documents are reassembled from what
  // remains. Paragraph boundary = the pinned 20-token window (this
  // corpus carries no structural delimiters); the count shuffle moves
  // md5 fingerprints, the hot set broadcasts back (e01's discipline at
  // one level finer). Oracle restates the window split + distinct-doc
  // count + ordered string_agg reassembly.
  val e36 = Q(
    "e36_paragraph_dedup",
    (s, d) => Dedup.paragraphDedup(T.documents(s, d), "doc_id", "text",
      paraTokens = 20, maxDocs = 1)
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      st AS (SELECT doc_id, ws, t.s AS start,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t.s) - 1 AS para_id
        FROM w, UNNEST(range(0, greatest(len(ws), 1), 20)) AS t(s)),
      p AS (SELECT doc_id, para_id,
          array_to_string(ws[start+1 : start+20], ' ') AS para FROM st),
      hot AS (SELECT para FROM p GROUP BY para HAVING COUNT(DISTINCT doc_id) > 1),
      f AS (SELECT p.doc_id, p.para_id, p.para, hot.para IS NOT NULL AS is_hot
        FROM p LEFT JOIN hot USING (para))
      SELECT doc_id,
        COALESCE(string_agg(CASE WHEN NOT is_hot THEN para END, ' ' ORDER BY para_id),
          '') AS clean_text,
        COUNT(CASE WHEN NOT is_hot THEN 1 END) AS n_kept,
        COUNT(CASE WHEN is_hot THEN 1 END) AS n_dropped
      FROM f GROUP BY doc_id ORDER BY doc_id"""))

  /** Single-live-copy cache for the capstone outputs (e35/e38): each
    * invocation materializes its frame, then releases the PREVIOUS
    * invocation's cached copy. The harness holds the returned frame only
    * until it writes/times it, but bench runs a query 7× — without this
    * every rep pinned another full chunked corpus in executor storage
    * for the remainder of the 92-query run, waiting on GC-driven
    * cleanup. */
  private val lastCapstone = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
  private def capstoneCache(out: DataFrame): DataFrame = {
    // this cache exists only to satisfy the harness's
    // materialize-before-release ordering (see e35) and is read back
    // exactly once — columnar compression of the full chunk text buys
    // nothing here and costs a dictionary/RLE encode of the corpus
    // inside the timed region (r22). Scoped to THIS cache: the
    // serializer is chosen when cache() captures the plan, and the
    // conf is restored right after.
    val s = out.sparkSession
    val key = "spark.sql.inMemoryColumnarStorage.compressed"
    val prevConf = s.conf.get(key)
    val rows = try {
      s.conf.set(key, "false")
      out.cache()
    } finally s.conf.set(key, prevConf)
    rows.count() // materialize before the caller releases upstream caches
    val prev = lastCapstone.getAndSet(rows)
    if (prev != null) prev.unpersist(false)
    rows
  }

  /** One oracle-side PQ-Lloyd round over the codebooks (the
    * [[lloydRoundSql]] discipline one level finer): encode every corpus
    * vector against `in`'s codewords (min squared-L2, ties → smaller
    * codeword id), per-(subspace, codeword, component) DECIMAL(38,6)
    * means rounded to f32, empty codewords keep their previous value. */
  private def pqRoundSql(n: Int, in: String, out: String,
      src: String = "corp"): String =
    s"""penc0_$n AS (SELECT v.vec_id, cw.j, cw.c,
          LIST_SUM(LIST_TRANSFORM(range(1, 5),
            i -> (CAST(v.embedding[cw.j*4+i] AS DOUBLE) - CAST(cw.w[i] AS DOUBLE))
               * (CAST(v.embedding[cw.j*4+i] AS DOUBLE) - CAST(cw.w[i] AS DOUBLE)))) AS dd
        FROM $src v, $in cw),
      penc_$n AS (SELECT vec_id, j, c FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dd, c) AS ern
           FROM penc0_$n)
        WHERE ern = 1),
      pcomp_$n AS (SELECT e.j, e.c, t.i, v.embedding[e.j*4 + t.i] AS x
        FROM penc_$n e JOIN $src v USING (vec_id), UNNEST(range(1, 5)) AS t(i)),
      pmeans_$n AS (SELECT j, c, i,
          CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mn
        FROM pcomp_$n GROUP BY j, c, i),
      pnew_$n AS (SELECT j, c, LIST(CAST(mn AS REAL) ORDER BY i) AS w
        FROM pmeans_$n GROUP BY j, c),
      $out AS (SELECT p.j, p.c, COALESCE(nn.w, p.w) AS w
        FROM $in p LEFT JOIN pnew_$n nn ON nn.j = p.j AND nn.c = p.c)"""

  // E3 (IVF-PQ): the production vector-compression tier — coarse
  // inverted-file cells + per-subvector k-means codebooks (m=16
  // subspaces × ksub=64 codewords over the 64-dim corpus: 96 bits of
  // codes per stored vector vs 256 bytes, ~20×), scored by asymmetric
  // distance through a per-query LUT. Codebook draw = the SAME
  // hash-order seed draw the cells use; 2 k-means passes refine the
  // codebooks (decimal component means, f32-rounded, empty codewords
  // keep their value — e14's Lloyd discipline per subspace); encode =
  // min squared-L2 with ties to the smaller codeword id; ADC divides by
  // the RECONSTRUCTED candidate norm — every fold left-to-right f64, so
  // the oracle restates the whole tier (draw → codebooks → 2 training
  // rounds → encode → assign → probe → LUT score → rank) and e37 is
  // hash-checked like e14/e28/e34.
  /** The IVF-PQ serve restatement, parameterized by the TRAINING
    * source: the seed draw (`picked`) and the PQ Lloyd rounds run over
    * `trainSrc`, while encoding, cell assignment, and serving always
    * run over the full `embeddings` — exactly the engine's
    * train-vs-encode split ([[Similarity.trainIvfPq]] over the build
    * corpus, [[Similarity.encodeWithModel]] over everything stored).
    * e37/e47 train over everything (`trainSrc = "embeddings"`); e55
    * trains over the pre-stream base and relies on the frozen-model
    * append contract — the final index is INDEPENDENT of how the
    * remaining vectors were batched in, which is why one static
    * restatement can pin a streaming ingest. */
  /** @param excludeScored extra predicate on the SCORED corpus side
    *   (`a` = the cell-assigned vectors), e.g. a forget-set exclusion
    *   for e106 — probes, training, and model geometry are untouched,
    *   exactly like [[Similarity.forgetFromIndex]]. */
  private def ivfPqServeOracle(trainSrc: String, excludeScored: String = ""): String =
    s"""WITH ${ivfPqServeCtes(trainSrc, excludeScored)}
      SELECT qid, vec_id, adc, rn FROM rk WHERE rn <= 5 ORDER BY qid, rn"""

  /** The IVF-PQ serve recompute as a reusable WITH-body (ends at `rk`:
    * qid, vec_id, adc, rn) so composed serving oracles (e114) can chain
    * onto the same candidate front e37/e47/e55/e106 pin. */
  private def ivfPqServeCtes(trainSrc: String, excludeScored: String = ""): String =
    s"""corp AS (SELECT vec_id, embedding,
        SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS vn
        FROM embeddings),
      tcorp AS (SELECT vec_id, embedding FROM $trainSrc),
      picked AS (SELECT vec_id, embedding FROM tcorp
        ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        LIMIT 64),
      cents AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS ce,
          SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cn
        FROM picked),
      bseeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, embedding AS be
        FROM picked),
      js AS (SELECT CAST(j AS INT) AS j FROM UNNEST(range(0, 16)) AS t(j)),
      cw_0 AS (SELECT js.j, b.c, be[js.j*4+1 : js.j*4+4] AS w FROM bseeds b, js),
      ${pqRoundSql(1, "cw_0", "cw_1", src = "tcorp")},
      ${pqRoundSql(2, "cw_1", "cw", src = "tcorp")},
      cwn AS (SELECT j, c,
          LIST_SUM(LIST_TRANSFORM(w, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS n2
        FROM cw),
      enc0 AS (SELECT v.vec_id, cw.j, cw.c,
          LIST_SUM(LIST_TRANSFORM(range(1, 5),
            i -> (CAST(v.embedding[cw.j*4+i] AS DOUBLE) - CAST(cw.w[i] AS DOUBLE))
               * (CAST(v.embedding[cw.j*4+i] AS DOUBLE) - CAST(cw.w[i] AS DOUBLE)))) AS dd
        FROM corp v, cw),
      enc AS (SELECT vec_id, j, c FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dd, c) AS ern
           FROM enc0)
        WHERE ern = 1),
      rnorm AS (SELECT e.vec_id, SQRT(LIST_SUM(LIST(cwn.n2 ORDER BY e.j))) AS rn_
        FROM enc e JOIN cwn ON cwn.j = e.j AND cwn.c = e.c GROUP BY e.vec_id),
      ac AS (SELECT c.vec_id, c.vn, ct.cid,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(c.embedding)+1),
            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)))
            / (c.vn * ct.cn) AS ccos
        FROM corp c, cents ct),
      assign AS (SELECT vec_id, cid FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn FROM ac)
        WHERE crn = 1),
      probes AS (SELECT vec_id AS qid, cid FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn
           FROM ac WHERE vec_id < 10)
        WHERE crn <= 8),
      dotj AS (SELECT p.qid, e.vec_id, e.j,
          LIST_SUM(LIST_TRANSFORM(range(1, 5),
            i -> CAST(q.embedding[e.j*4+i] AS DOUBLE) * CAST(cw.w[i] AS DOUBLE))) AS dj
        FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid $excludeScored
        JOIN enc e ON e.vec_id = a.vec_id
        JOIN cw ON cw.j = e.j AND cw.c = e.c
        JOIN corp q ON q.vec_id = p.qid),
      sc AS (SELECT d.qid, d.vec_id,
          LIST_SUM(LIST(d.dj ORDER BY d.j)) / (q.vn * r.rn_) AS adc
        FROM dotj d JOIN corp q ON q.vec_id = d.qid
        JOIN rnorm r ON r.vec_id = d.vec_id
        GROUP BY d.qid, d.vec_id, q.vn, r.rn_),
      rk AS (SELECT qid, vec_id, adc,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rn FROM sc)"""

  val e37 = Q(
    "e37_ann_ivf_pq",
    (s, d) => Similarity.ivfPqTopK(
      T.embeddings(s, d), T.embeddings(s, d).filter(col("vec_id") < 10),
      k = 5, nlist = 64, nprobe = 8, m = 16, ksub = 64, pqIters = 2),
    Some(ivfPqServeOracle("embeddings")))

  // THE capstone, v2: e35's flow with PARAGRAPH-level boilerplate
  // removal (e36) composed between the quality gates and the document
  // dedup — the production ordering ([[CorpusPipeline]]): shared
  // headers/footers are dropped from every document first (so they
  // can't make distinct documents look like near-dups), documents
  // cleaned to nothing drop out, and the chunker emits the CLEANED
  // text. Same declared geometry as every component query; the oracle
  // splices e36's paragraph CTEs into e35's end-to-end restatement.
  val e38 = Q(
    "e38_corpus_pipeline_para",
    (s, d) => {
      val p = CorpusPipeline.prepare(T.documents(s, d))
      val out = p.chunks.orderBy(col("doc_id"), col("chunk_id"))
      val rows = capstoneCache(out)
      p.unpersistAll()
      rows
    },
    Some(s"""WITH RECURSIVE scored AS (SELECT doc_id, $langScoreSql,
        (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
          / CAST(length(text) AS DOUBLE) AS punct_ratio,
        CAST(len(list_filter(string_split(text, ' '),
            t -> list_contains($stopList, t))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stopword_ratio,
        LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100) AS length_score,
        len(string_split(text, ' ')) AS n_tokens
      FROM documents),
      best AS (SELECT *, GREATEST(score_de, score_en, score_es, score_fr) AS b FROM scored),
      keepf AS (SELECT doc_id, length_score FROM best
        WHERE b > 0 AND score_en = b AND score_de <> b AND n_tokens >= 20
          AND punct_ratio <= 0.15 AND stopword_ratio >= 0.01),
      fdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN keepf USING (doc_id)),
      pw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM fdocs),
      pst AS (SELECT doc_id, ws, t.s AS start,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t.s) - 1 AS para_id
        FROM pw, UNNEST(range(0, greatest(len(ws), 1), 20)) AS t(s)),
      pp AS (SELECT doc_id, para_id,
          array_to_string(ws[start+1 : start+20], ' ') AS para FROM pst),
      phot AS (SELECT para FROM pp GROUP BY para HAVING COUNT(DISTINCT doc_id) > 1),
      pf AS (SELECT pp.doc_id, pp.para_id, pp.para, phot.para IS NOT NULL AS is_hot
        FROM pp LEFT JOIN phot USING (para)),
      pclean AS (SELECT doc_id,
          COALESCE(string_agg(CASE WHEN NOT is_hot THEN para END, ' ' ORDER BY para_id),
            '') AS text
        FROM pf GROUP BY doc_id),
      pdocs AS (SELECT doc_id, text FROM pclean WHERE text <> ''),
      ${mhCtesFrom("pdocs")},
      ${ccCtesOver(s"""SELECT c.doc1, c.doc2 FROM est c
          JOIN pdocs a ON a.doc_id = c.doc1
          JOIN pdocs b ON b.doc_id = c.doc2
          WHERE c.est_sim >= 0.4 AND levenshtein(a.text, b.text) <= 5""")},
      ranked AS (SELECT c.cluster_rep, c.doc_id,
          ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
            ORDER BY k.length_score DESC, c.doc_id) AS rn
        FROM clusters c JOIN keepf k ON k.doc_id = c.doc_id),
      survivors AS (SELECT doc_id FROM pdocs
          WHERE doc_id NOT IN (SELECT doc_id FROM clusters)
        UNION ALL SELECT doc_id FROM ranked WHERE rn = 1),
      sdocs AS (SELECT f.doc_id, string_split(f.text, ' ') AS ws
        FROM pdocs f JOIN survivors s USING (doc_id)),
      st AS (SELECT doc_id, ws, t.s AS start,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t.s) - 1 AS chunk_id
        FROM sdocs, UNNEST(range(0, greatest(len(ws) - 16, 1), 48)) AS t(s))
      SELECT doc_id, chunk_id,
        CAST(LEAST(64, len(ws) - start) AS BIGINT) AS n_tokens,
        array_to_string(ws[start+1 : start+64], ' ') AS chunk_text
      FROM st ORDER BY doc_id, chunk_id"""))

  // E4 (sequence packing): chunks → fixed token-budget training
  // sequences — bucketed greedy-sequential packing (the parallel shape:
  // one window partition per bucket stream, no global cumsum), chunk
  // geometry from e29 at overlap 0, budget 256 over 8 streams. The
  // oracle restates the bucket hash (the e14 md5 draw arithmetic), the
  // running total and the floor division exactly.
  val e39 = Q(
    "e39_sequence_packing",
    (s, d) => TextOps.packSequences(
      TextOps.chunk(T.documents(s, d), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 0),
      "doc_id", "chunk_id", "n_tokens", budget = 256, buckets = 8)
      .orderBy(col("bucket"), col("doc_id"), col("chunk_id")),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      st AS (SELECT doc_id, ws, t.s AS start,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t.s) - 1 AS chunk_id
        FROM w, UNNEST(range(0, greatest(len(ws), 1), 64)) AS t(s)),
      ch AS (SELECT doc_id, chunk_id,
          CAST(LEAST(64, len(ws) - start) AS BIGINT) AS n_tokens FROM st),
      b AS (SELECT doc_id, chunk_id, n_tokens,
          CAST(CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 8 AS INT)
            AS bucket FROM ch),
      p AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket
            ORDER BY doc_id, chunk_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS tokens_before
        FROM b)
      SELECT doc_id, chunk_id, bucket,
        CAST(tokens_before // 256 AS BIGINT) AS seq_id, n_tokens
      FROM p ORDER BY bucket, doc_id, chunk_id"""))

  // E4 (privacy): PII scrub. The synthetic corpus carries no PII, so the
  // declared query deterministically APPENDS PII-shaped tokens derived
  // from doc_id (one email, one dotted-quad, one SSN-shaped id per doc)
  // on BOTH engines, then redacts and counts — the operator does real
  // matching work and the oracle restates injection + scrub verbatim
  // (patterns interpolated from the same constants the Spark side
  // compiles, so the two sides cannot drift).
  val e40 = Q(
    "e40_pii_redact",
    (s, d) => TextOps.piiRedact(
      T.documents(s, d).select(col("doc_id"), concat(
        col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@ex.org via 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 ssn 123-45-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text")),
      "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""WITH inj AS (SELECT doc_id,
        text || ' contact u' || CAST(doc_id AS VARCHAR) ||
          '@ex.org via 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
          '.7 ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          AS text
      FROM documents)
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(text,
          '${TextOps.EmailRe}', '<EMAIL>', 'g'),
          '${TextOps.SsnRe}', '<ID>', 'g'),
          '${TextOps.Ipv4Re}', '<IP>', 'g') AS clean,
        CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}', 0)) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(text, '${TextOps.Ipv4Re}', 0)) AS BIGINT) AS n_ips,
        CAST(len(regexp_extract_all(text, '${TextOps.SsnRe}', 0)) AS BIGINT) AS n_ids
      FROM inj ORDER BY doc_id"""))

  // E4 (mixing): exact per-source cap — rank-by-portable-hash inside
  // each source, keep the cap smallest. Unlike e18's expectation-rate
  // mix, the kept count is exact and the kept set is a prefix under a
  // growing cap. One shuffle on source; see Sampling.capPerStratum for
  // the 100 TB pre-filter note.
  val e41 = Q(
    "e41_source_cap",
    (s, d) => Sampling.capPerStratum(T.documents(s, d), "doc_id", "source", cap = 10)
      .select(col("doc_id"), col("source"), col("rank_in_stratum"))
      .orderBy(col("source"), col("rank_in_stratum")),
    Some("""SELECT doc_id, source, rank_in_stratum FROM (
        SELECT doc_id, source,
          CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY
            CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,6)) AS BIGINT), doc_id)
            AS BIGINT) AS rank_in_stratum
        FROM documents)
      WHERE rank_in_stratum <= 10 ORDER BY source, rank_in_stratum"""))

  // E4 (shuffle): deterministic global shuffle to (shard, pos) — the
  // terminal "write N training shards" placement. One shuffle on the
  // 8-way hash shard; within-shard order is the same portable hash.
  val e42 = Q(
    "e42_shard_shuffle",
    (s, d) => Sampling.shardAssign(T.documents(s, d), "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos")),
    Some("""SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
      FROM (SELECT doc_id,
          CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,6)) AS BIGINT) AS h
        FROM documents)
      ORDER BY shard, pos"""))

  // E4 (streaming ingest): continuous corpus ingestion — the streaming
  // family applied to the documents domain. The document stream arrives
  // DOUBLED (union with itself: the at-least-once delivery shape),
  // event time is the deterministic ingest stamp derived from doc_id;
  // watermarked dedup collapses redelivery, the e20 quality gates run
  // stateless inside the micro-batch, and the per-source admission
  // stats aggregate in complete mode, drained with AvailableNow on the
  // RocksDB state backend (same lifecycle discipline as c47/c50/c51).
  // The oracle is the BATCH restatement of the e20 gate grouped by
  // source — one leaked duplicate or dropped/extra document breaks the
  // count hash.
  val e43 = Q(
    "e43_stream_corpus_ingest",
    (outer, d) => {
      val s = graft.streaming.StateBackend.isolatedStreamSession(outer)
      val batchSchema = s.read.parquet(s"$d/documents.parquet").schema
      def src = s.readStream.schema(batchSchema).parquet(s"$d/documents.parque[t]")
      val deduped = src.union(src)
        // +1 day so the earliest stamp clears the operator's initial
        // watermark (epoch 0): a ts exactly AT the watermark is expired
        .withColumn("ts", timestamp_micros((col("doc_id") + lit(86400L)) * lit(1000000L)))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("doc_id")
      val gated = TextOps.qualityFilter(deduped, "doc_id", "text",
        lang = "en", minTokens = 20, maxPunctRatio = 0.15,
        minStopwordRatio = 0.01, keep = Seq("source"))
      val agg = gated.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      val q = agg.writeStream
        .format("memory").queryName("graft_e43_stream")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_e43_stream").orderBy(col("source"))
    },
    Some(s"""WITH scored AS (SELECT doc_id, source, $langScoreSql,
        (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
          / CAST(length(text) AS DOUBLE) AS punct_ratio,
        CAST(len(list_filter(string_split(text, ' '),
            t -> list_contains($stopList, t))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stopword_ratio,
        len(string_split(text, ' ')) AS n_tokens
      FROM documents),
      best AS (SELECT *, GREATEST(score_de, score_en, score_es, score_fr) AS b FROM scored),
      lang AS (SELECT doc_id, source, punct_ratio, stopword_ratio, n_tokens,
        CASE WHEN b = 0 THEN 'und'
             WHEN score_de = b THEN 'de' WHEN score_en = b THEN 'en'
             WHEN score_es = b THEN 'es' ELSE 'fr' END AS lang_guess
      FROM best)
      SELECT source, COUNT(*) AS n_docs,
        MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM lang
      WHERE lang_guess = 'en' AND n_tokens >= 20
        AND punct_ratio <= 0.15 AND stopword_ratio >= 0.01
      GROUP BY source ORDER BY source"""))

  // E4 (tokenizer precursor): vocabulary building — corpus term counts
  // with a frequency floor, top-k by (count desc, term) with dense
  // token ids. Top-k is TakeOrderedAndProject (no global sort of the
  // term distribution, plan-asserted); the rank window touches only
  // the k survivors.
  val e44 = Q(
    "e44_vocabulary",
    (s, d) => TextOps.vocabulary(T.documents(s, d), "text", minCount = 5, k = 100)
      .orderBy(col("token_id")),
    Some("""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      t AS (SELECT tok AS term FROM w, UNNEST(ws) AS u(tok) WHERE length(tok) > 0),
      c AS (SELECT term, COUNT(*) AS n FROM t GROUP BY term HAVING COUNT(*) >= 5),
      r AS (SELECT term, n,
          CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS BIGINT) - 1 AS token_id
        FROM c)
      SELECT term, n, token_id FROM r WHERE token_id < 100 ORDER BY token_id"""))

  // E4 (corpus→ids): tokenization against the e44 vocabulary — the
  // broadcast map-side lookup (vocab is k rows, the corpus is the big
  // side), OOV → -1, ids reassembled in position order. Declared output
  // is the id sequence as CSV (the driver compare handles scalars, not
  // arrays); the operator itself returns the real array<long>.
  val e45 = Q(
    "e45_tokenize",
    (s, d) => {
      val vocab = TextOps.vocabulary(T.documents(s, d), "text", minCount = 5, k = 100)
      TextOps.tokenize(T.documents(s, d), "doc_id", "text", vocab)
        .select(col("doc_id"),
          concat_ws(",", transform(col("token_ids"), x => x.cast("string"))).as("ids_csv"),
          size(col("token_ids")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      t0 AS (SELECT tok AS term FROM w, UNNEST(ws) AS u(tok) WHERE length(tok) > 0),
      c AS (SELECT term, COUNT(*) AS n FROM t0 GROUP BY term HAVING COUNT(*) >= 5),
      r AS (SELECT term,
          CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS BIGINT) - 1 AS token_id
        FROM c),
      v AS (SELECT term, token_id FROM r WHERE token_id < 100),
      d2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      tok AS (SELECT doc_id, i, ws[i] AS term
        FROM d2, UNNEST(range(1, len(ws)+1)) AS t(i) WHERE length(ws[i]) > 0),
      ids AS (SELECT tok.doc_id, tok.i, COALESCE(v.token_id, -1) AS tid
        FROM tok LEFT JOIN v ON v.term = tok.term)
      SELECT doc_id, string_agg(CAST(tid AS VARCHAR), ',' ORDER BY i) AS ids_csv,
        CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM ids GROUP BY doc_id ORDER BY doc_id"""))

  // E4 (trainer handoff): pack-then-shard — e39's bucketed packing
  // composed with e42's deterministic placement, keyed on the SEQUENCE
  // identity. Chunks (e29 geometry, overlap 0) pack into fixed
  // 256-token sequences per bucket stream; each sequence collapses to
  // one row (count, token total, doc span) WITHOUT a new exchange (the
  // packing window already clusters on bucket, a prefix of the
  // grouping key); placement hashes the portable "<bucket>:<seq_id>"
  // key so every run lands sequences in the same shard at the same
  // position. The oracle restates the whole composition — packing
  // arithmetic, the per-sequence aggregate and the placement hash —
  // in version-stable BIGINT casts (every HUGEINT-producing window
  // sum, floor division and COUNT/SUM is cast explicitly).
  val e46 = Q(
    "e46_packed_shards",
    (s, d) => {
      val packed = TextOps.packSequences(
        TextOps.chunk(T.documents(s, d), "doc_id", "text",
          chunkTokens = 64, overlapTokens = 0),
        "doc_id", "chunk_id", "n_tokens", budget = 256, buckets = 8)
      val seqs = CorpusPipeline.assembleSequences(packed, "doc_id", "chunk_id", "n_tokens")
      Sampling.shardAssign(seqs, "seq_key", nShards = 4)
        .select(col("bucket"), col("seq_id"), col("n_chunks"), col("seq_tokens"),
          col("first_doc"), col("last_doc"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      st AS (SELECT doc_id, ws, t.s AS start,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t.s) - 1 AS chunk_id
        FROM w, UNNEST(range(0, greatest(len(ws), 1), 64)) AS t(s)),
      ch AS (SELECT doc_id, chunk_id,
          CAST(LEAST(64, len(ws) - start) AS BIGINT) AS n_tokens FROM st),
      b AS (SELECT doc_id, chunk_id, n_tokens,
          CAST(CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 8 AS INT)
            AS bucket FROM ch),
      p AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket
            ORDER BY doc_id, chunk_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS tokens_before
        FROM b),
      seqs AS (SELECT bucket, CAST(tokens_before // 256 AS BIGINT) AS seq_id,
          CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM p GROUP BY bucket, CAST(tokens_before // 256 AS BIGINT)),
      k AS (SELECT *,
          CAST(bucket AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR) AS seq_key
        FROM seqs),
      hk AS (SELECT *, CAST(('0x'||substr(md5(seq_key),1,6)) AS BIGINT) AS h FROM k)
      SELECT bucket, seq_id, n_chunks, seq_tokens, first_doc, last_doc,
        CAST(h % 4 AS INT) AS shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY h % 4 ORDER BY h, seq_key) AS BIGINT) AS pos
      FROM hk ORDER BY shard, pos"""))

  // E3 (index lifecycle): build-once/serve-many — e37's IVF-PQ tier
  // split at the production seam: TRAIN + ENCODE persist as parquet
  // index tables (codes partitioned by cell = the inverted lists on
  // disk, centroids, codebooks, meta), then the SERVE path loads the
  // small model (nlist + m·ksub rows) and answers the query batch from
  // the codes table alone — zero training scans, no retraining
  // (plan-asserted in spec). Same geometry and arithmetic as e37, so
  // the serve results hash-check against the SAME oracle restatement:
  // the round-trip through parquet is the contract under test (f32/f64
  // and packed int64 codes round-trip bit-exactly).
  val e47 = Q(
    "e47_ann_index_serve",
    (s, d) => {
      val dir = tempQueryDir("graft_e47_idx")
      Similarity.buildIndex(T.embeddings(s, d), dir,
        nlist = 64, m = 16, ksub = 64, pqIters = 2)
      val idx = Similarity.loadIndex(s, dir)
      Similarity.queryIndex(idx,
        T.embeddings(s, d).filter(col("vec_id") < 10), k = 5, nprobe = 8)
    },
    e37.oracle)

  /** One BPE training round as oracle SQL: pair counts over `in`'s
    * symbol sequences (corpus-count weighted), the top pair by
    * (count desc, pair), and the merged sequences as `out`. The merge
    * application is the same padded double `replace` the Spark side
    * runs ([[TextOps.bpeApplyMerge]]) — plain-string replace has
    * identical leftmost/non-overlapping semantics in both engines.
    * Every CTE is MATERIALIZED and the winner is applied via a CROSS
    * JOIN of the one-row `top_$n`: with default (inlined) CTEs and
    * scalar subqueries, each round re-expands the whole chain below it
    * and planning goes exponential in the round count — 6 rounds hang
    * the planner; materialized + single-reference plans in <1 s. */
  private def bpeRoundSql(n: Int, in: String, out: String): String = s"""
      pc_$n AS MATERIALIZED (SELECT ws[i] || ' ' || ws[i+1] AS pair,
          CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, string_split(seq, ' ') AS ws FROM $in),
          UNNEST(range(1, len(ws))) AS t(i)
        GROUP BY pair),
      top_$n AS MATERIALIZED (SELECT pair, cnt, replace(pair, ' ', '') AS merged
        FROM pc_$n ORDER BY cnt DESC, pair LIMIT 1),
      $out AS MATERIALIZED (${bpeApplySql(in, s"top_$n", "term, n")})"""

  /** Apply `top`'s (possibly absent) winning pair to `in.seq` — the
    * padded double replace against a LEFT JOIN of the one-row top
    * table. When the corpus ran dry (empty `top`), the COALESCEd
    * search string is `chr(1)` — a symbol that cannot occur in the
    * [a-z0-9 ] alphabet, so the replace is a no-op and the chain
    * carries sequences through unchanged, exactly like the Spark
    * loop's early stop. */
  private def bpeApplySql(in: String, top: String, keep: String): String = s"""
      SELECT $keep,
          trim(replace(replace(' ' || seq || ' ',
            COALESCE(' ' || t.pair || ' ', chr(1)),
            COALESCE(' ' || t.merged || ' ', chr(1))),
            COALESCE(' ' || t.pair || ' ', chr(1)),
            COALESCE(' ' || t.merged || ' ', chr(1)))) AS seq
        FROM $in LEFT JOIN $top AS t ON TRUE"""

  // E4 (subword tokenizer training): distributed BPE merge learning —
  // the step above e44's word vocabulary a real tokenizer ships. The
  // word front is e16's pre-tokenizer classes (lowercased letter/digit
  // runs — clean [a-z0-9] alphabet, so the space separator can never
  // collide with a symbol), seeded at single characters; 6 rounds of
  // pair-count → top-pair merge, ties on the pair text. Per round the
  // Spark side does ONE exchange + a single-row collect (spec-pinned);
  // the oracle restates every round as chained CTEs over the identical
  // primitives (regexp word classes, lateral-unnest pair explode,
  // padded double replace).
  val e48 = Q(
    "e48_bpe_merges",
    (s, d) => TextOps.bpeMerges(T.documents(s, d), "text", rounds = 6)
      .orderBy(col("round")),
    Some(s"""WITH wc AS MATERIALIZED (SELECT term, COUNT(*) AS n FROM (
          SELECT tok AS term FROM
            (SELECT regexp_extract_all(lower(text), '[a-z]+|[0-9]+') AS rs
             FROM documents), UNNEST(rs) AS u(tok))
        GROUP BY term),
      w0 AS MATERIALIZED (SELECT term, n,
          array_to_string(regexp_extract_all(term, '.'), ' ') AS seq FROM wc),
      ${(1 to 6).map(i => bpeRoundSql(i, s"w${i - 1}", s"w$i")).mkString(",\n")}
      ${(1 to 6).map(i =>
        s"SELECT CAST($i AS BIGINT) AS round, pair, merged, cnt AS freq FROM top_$i")
        .mkString("\nUNION ALL ")}
      ORDER BY round"""))

  // E4 (streaming drain): exactly-once parquet sink under at-least-once
  // redelivery. The document stream drains through the manifest-ledger
  // sink ([[graft.streaming.ExactlyOnce]]); then the FULL input is
  // re-offered at an already-committed batch id — the crash-replay
  // shape — and must be skipped. The committed table aggregates against
  // the plain batch oracle: one double-written batch and every count in
  // the hash doubles.
  val e49 = Q(
    "e49_stream_exactly_once",
    (outer, d) => {
      val s = graft.streaming.StateBackend.isolatedStreamSession(outer)
      val tmp = tempQueryDir("graft_e49")
      val sink = s"$tmp/docs"
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val src = s.readStream.schema(schema).parquet(s"$d/documents.parque[t]")
      val q = graft.streaming.StreamingSync.availableNow(
        graft.streaming.ExactlyOnce.parquetSink(src, sink), s"$tmp/ckpt").start()
      q.awaitTermination()
      val base = new org.apache.hadoop.fs.Path(sink)
      val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
      val last = graft.streaming.ExactlyOnce.lastCommitted(fs, base)
        .getOrElse(sys.error("e49: drain committed no batch"))
      val replayed = graft.streaming.ExactlyOnce.commitBatch(
        s.read.parquet(s"$d/documents.parquet"), sink, last)
      require(!replayed, "e49: replay of a committed batch id must be skipped")
      graft.streaming.ExactlyOnce.readCommitted(s, sink)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          sum(length(col("text"))).cast("long").as("n_chars"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, COUNT(*) AS n_docs,
        MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        CAST(SUM(length(text)) AS BIGINT) AS n_chars
      FROM documents GROUP BY source ORDER BY source"""))

  // E4 (tokenizer serve path): BPE ENCODING with the e48-trained model —
  // corpus → subword ids. Fit = e48's merge loop + the bounded symbol
  // vocabulary (≤ alphabet+rounds entries, dense ids by count desc,
  // symbol); encode = map-only merge application over word OCCURRENCES
  // (the bounded merge list folds into nested replaces — no unbounded
  // vocab broadcast at any corpus size) + one broadcast symbol join +
  // the per-document reassembly exchange. The oracle restates the full
  // w-chain (shared CTE template with e48), the symbol ranking, and the
  // SAME padded-double-replace chain over the occurrence stream. CSV
  // projection for the scalar driver compare, like e45.
  val e50 = Q(
    "e50_bpe_encode",
    (s, d) => {
      val docs = T.documents(s, d)
      val model = TextOps.bpeFit(docs, "text", rounds = 6)
      TextOps.bpeEncode(docs, "doc_id", "text", model)
        .select(col("doc_id"),
          concat_ws(",", transform(col("token_ids"), x => x.cast("string"))).as("ids_csv"),
          col("n_subwords"), col("n_words"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${bpeEncodeCtes(6)}
      SELECT doc_id, string_agg(CAST(sym_id AS VARCHAR), ',' ORDER BY i, j) AS ids_csv,
        CAST(COUNT(*) AS BIGINT) AS n_subwords,
        CAST(COUNT(CASE WHEN j = 1 THEN 1 END) AS BIGINT) AS n_words
      FROM ids GROUP BY doc_id ORDER BY doc_id"""))

  /** The full BPE fit+encode restatement shared by e50/e51: e48's merge
    * chain over the word-type front (`wc`/`w0..wN`), the symbol
    * vocabulary ranked on the FINAL front (`sv`), the same merge chain
    * replayed over word OCCURRENCES (`o0..oN` keep document position),
    * and the per-subword id stream `ids(doc_id, i, j, sym_id)`. */
  private def bpeEncodeCtes(rounds: Int): String =
    s"""wc AS MATERIALIZED (SELECT term, COUNT(*) AS n FROM (
          SELECT tok AS term FROM
            (SELECT regexp_extract_all(lower(text), '[a-z]+|[0-9]+') AS rs
             FROM documents), UNNEST(rs) AS u(tok))
        GROUP BY term),
      w0 AS MATERIALIZED (SELECT term, n,
          array_to_string(regexp_extract_all(term, '.'), ' ') AS seq FROM wc),
      ${(1 to rounds).map(i => bpeRoundSql(i, s"w${i - 1}", s"w$i")).mkString(",\n")},
      syms AS MATERIALIZED (SELECT sym, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, string_split(seq, ' ') AS ws FROM w$rounds), UNNEST(ws) AS u(sym)
        GROUP BY sym),
      sv AS MATERIALIZED (SELECT sym,
          CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, sym) AS BIGINT) - 1 AS sym_id
        FROM syms),
      docs2 AS (SELECT doc_id, i, rs[i] AS tok
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+|[0-9]+') AS rs
              FROM documents), UNNEST(range(1, len(rs)+1)) AS t(i)),
      o0 AS MATERIALIZED (SELECT doc_id, i,
          array_to_string(regexp_extract_all(tok, '.'), ' ') AS seq FROM docs2),
      ${(1 to rounds).map(i =>
        s"o$i AS MATERIALIZED (${bpeApplySql(s"o${i - 1}", s"top_$i", "doc_id, i")})")
        .mkString(",\n")},
      sub AS (SELECT doc_id, i, j, ws[j] AS sym
        FROM (SELECT doc_id, i, string_split(seq, ' ') AS ws FROM o$rounds),
          UNNEST(range(1, len(ws)+1)) AS t(j)),
      ids AS (SELECT s.doc_id, s.i, s.j, v.sym_id FROM sub s JOIN sv v USING (sym))"""

  // E4 (the full trainer handoff, tokenizer-aware): what a training run
  // actually consumes — fixed-budget sequences of BPE TOKEN IDS at
  // deterministic shard positions. e46 packs by whitespace token counts
  // (a proxy); e51 packs by the e50 tokenizer's REAL subword counts and
  // ships the ids: fit (bounded model) → encode (map-only + one
  // reassembly exchange) → pack documents into 512-token sequences per
  // bucket stream (e39 arithmetic on n_subwords) → collapse each
  // sequence to one row with its concatenated id stream (bucket is a
  // prefix of the grouping key — no new exchange, plan-asserted in
  // CorpusPipelineSpec) → e42 placement on the sequence identity. The
  // oracle composes the shared BPE chain with e46's packing/placement
  // arithmetic, all HUGEINT-producing sums cast to BIGINT.
  val e51 = Q(
    "e51_tokenized_pack_shards",
    (s, d) => {
      val docs = T.documents(s, d)
      val model = TextOps.bpeFit(docs, "text", rounds = 6)
      val enc = TextOps.bpeEncode(docs, "doc_id", "text", model)
      val packed = TextOps.packSequences(enc.withColumn("part", lit(0)),
        "doc_id", "part", "n_subwords", budget = 512, buckets = 8,
        keep = Seq("token_ids"))
      val seqs = CorpusPipeline.assembleTokenSequences(
        packed, "doc_id", "part", "n_subwords", "token_ids")
      Sampling.shardAssign(seqs, "seq_key", nShards = 4)
        .select(col("bucket"), col("seq_id"), col("n_items"), col("seq_tokens"),
          col("first_doc"), col("last_doc"),
          concat_ws(",", transform(col("token_ids"), x => x.cast("string"))).as("ids_csv"),
          col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    },
    Some(s"""WITH ${bpeEncodeCtes(6)},
      enc AS (SELECT doc_id,
          string_agg(CAST(sym_id AS VARCHAR), ',' ORDER BY i, j) AS ids_csv,
          CAST(COUNT(*) AS BIGINT) AS n_subwords
        FROM ids GROUP BY doc_id),
      b AS (SELECT *,
          CAST(CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 8 AS INT)
            AS bucket FROM enc),
      p AS (SELECT *, CAST(COALESCE(SUM(n_subwords) OVER (PARTITION BY bucket
            ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS tokens_before
        FROM b),
      seqs AS (SELECT bucket, CAST(tokens_before // 512 AS BIGINT) AS seq_id,
          CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(n_subwords) AS BIGINT) AS seq_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
          string_agg(ids_csv, ',' ORDER BY doc_id) AS ids_csv
        FROM p GROUP BY bucket, CAST(tokens_before // 512 AS BIGINT)),
      k AS (SELECT *,
          CAST(bucket AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR) AS seq_key
        FROM seqs),
      hk AS (SELECT *, CAST(('0x'||substr(md5(seq_key),1,6)) AS BIGINT) AS h FROM k)
      SELECT bucket, seq_id, n_items, seq_tokens, first_doc, last_doc, ids_csv,
        CAST(h % 4 AS INT) AS shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY h % 4 ORDER BY h, seq_key) AS BIGINT) AS pos
      FROM hk ORDER BY shard, pos"""))

  // E1 (corpus lifecycle): incremental dedup against a PERSISTED index —
  // the build/serve split e47 gives ANN, applied to dedup. The corpus
  // (doc_id % 5 != 4) builds fingerprint/signature/band tables once;
  // the ingest batch (the complement) dedups against the index with
  // zero corpus-text access: exact via fingerprint match, near via the
  // LSH band join + best est_sim, new otherwise. Every index join
  // broadcasts the batch side; the index is never shuffled
  // (plan-asserted in DedupSimilaritySpec). The oracle restates both
  // sides' signature chains with the shared prefixed template, the
  // corpus-side bucket prune, and the verdict precedence.
  /** Shared DuckDB restatement for the incremental-dedup verdicts over
    * corpus = doc_id%5≠4 vs batch = doc_id%5=4 — used verbatim by BOTH
    * e52 (one-shot build) and e53 (build → append → compact): compacted
    * output equals a fresh build over the full corpus (spec-proven in
    * DedupSimilaritySpec), so one oracle pins both lifecycles. */
  private lazy val incrementalDedupOracle: String =
    s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
      batch AS (SELECT * FROM documents WHERE doc_id % 5 = 4),
      ${mhSigCtesFrom("c", "corpus")},
      ${mhSigCtesFrom("b", "batch")},
      cpruned AS (SELECT * FROM
          (SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bucket_n FROM cbanded)
        WHERE bucket_n <= 1000),
      -- corpus candidates (bucket-pruned index) plus INTRA-BATCH
      -- candidates (band self-join, strictly-lower id — the round-12
      -- rule: of n same-batch copies only the lowest id can be new)
      cand AS (SELECT DISTINCT x.doc AS bdoc, x.sig AS s1, y.doc AS cdoc, y.sig AS s2
        FROM bbanded x JOIN cpruned y ON x.band = y.band AND x.key = y.key
        UNION
        SELECT DISTINCT x.doc AS bdoc, x.sig AS s1, y.doc AS cdoc, y.sig AS s2
        FROM bbanded x JOIN bbanded y
          ON x.band = y.band AND x.key = y.key AND y.doc < x.doc),
      est AS (SELECT bdoc, cdoc,
          CAST(list_sum(list_transform(range(1,$mhK+1),
            i -> CASE WHEN s1[i] = s2[i] THEN 1 ELSE 0 END)) AS DOUBLE)/$mhK AS est_sim
        FROM cand),
      near AS (SELECT * FROM
          (SELECT bdoc, cdoc, est_sim,
             ROW_NUMBER() OVER (PARTITION BY bdoc ORDER BY est_sim DESC, cdoc) AS rn
           FROM est WHERE est_sim >= 0.4)
        WHERE rn = 1),
      cfp AS (SELECT doc_id AS doc, md5(lower(text)) AS fp FROM corpus),
      bfp AS (SELECT doc_id AS doc, md5(lower(text)) AS fp FROM batch),
      ex AS (SELECT doc, MIN(exact_doc) AS exact_doc FROM (
          SELECT b.doc, c.doc AS exact_doc FROM bfp b JOIN cfp c USING (fp)
          UNION ALL
          SELECT b.doc, b2.doc AS exact_doc FROM bfp b JOIN bfp b2 USING (fp)
          WHERE b2.doc < b.doc) GROUP BY doc)
      SELECT bt.doc_id,
        CASE WHEN e.exact_doc IS NOT NULL THEN 'exact'
             WHEN n.cdoc IS NOT NULL THEN 'near' ELSE 'new' END AS verdict,
        CAST(COALESCE(e.exact_doc, n.cdoc, -1) AS BIGINT) AS match_doc,
        CASE WHEN e.exact_doc IS NOT NULL THEN CAST(1.0 AS DOUBLE)
             ELSE CAST(COALESCE(n.est_sim, 0.0) AS DOUBLE) END AS est_sim
      FROM batch bt LEFT JOIN ex e ON e.doc = bt.doc_id
        LEFT JOIN near n ON n.bdoc = bt.doc_id
      ORDER BY doc_id"""

  val e52 = Q(
    "e52_incremental_dedup",
    (s, d) => {
      val docs = T.documents(s, d)
      val dir = tempQueryDir("graft_e52_idx")
      Dedup.buildDedupIndex(docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text",
        dir, k = mhK, bands = mhBands)
      val idx = Dedup.loadDedupIndex(s, dir)
      Dedup.incrementalDedup(docs.filter(col("doc_id") % 5 === 4), "doc_id", "text",
        idx, minEstSim = 0.4)
        .orderBy(col("doc_id"))
    },
    Some(incrementalDedupOracle))

  // E1 (index maintenance lifecycle): the SAME verdicts as e52, reached
  // through the full production maintenance loop instead of a one-shot
  // build — build over 3/5 of the corpus, APPEND the remaining 1/5 as a
  // ledger-committed generation, COMPACT IN PLACE (fold staged as a
  // marked generation, promoted by one atomic ledger PUT — no
  // caller-owned directory swap; crash windows spec-proven in
  // IndexLifecycleSpec), VACUUM the subsumed base + generations, then
  // dedup the ingest batch against what remains: the compaction
  // generation alone. Hash-equality with e52's oracle IS the lifecycle
  // contract: append+compact+vacuum must be observationally identical
  // to having built the index over the full corpus.
  val e53 = Q(
    "e53_dedup_index_maintenance",
    (s, d) => {
      val docs = T.documents(s, d)
      val dir = tempQueryDir("graft_e53_idx")
      Dedup.buildDedupIndex(
        docs.filter(col("doc_id") % 5 =!= 4 && col("doc_id") % 5 =!= 3),
        "doc_id", "text", dir, k = mhK, bands = mhBands)
      Dedup.appendToDedupIndex(docs.filter(col("doc_id") % 5 === 3),
        "doc_id", "text", dir)
      Dedup.compactDedupIndex(s, dir)
      Dedup.vacuumDedupIndex(s, dir)
      val idx = Dedup.loadDedupIndex(s, dir)
      Dedup.incrementalDedup(docs.filter(col("doc_id") % 5 === 4), "doc_id", "text",
        idx, minEstSim = 0.4)
        .orderBy(col("doc_id"))
    },
    Some(incrementalDedupOracle))

  // E4+E1 composition (streaming ingest × persisted index): the real
  // daily-ingest shape — a readStream whose micro-batches dedup against
  // the PERSISTED index and admit their `new` verdicts back into it as
  // batch-keyed generations, verdicts landing in an exactly-once sink.
  // The ingest side (doc_id%5=4) arrives as THREE deterministic
  // micro-batches (doc_id%3 slices, one file each, mtimes pinned
  // ascending, maxFilesPerTrigger=1), so a doc admitted in batch g IS
  // corpus for batches > g — the property the oracle restates stage by
  // stage: three chained verdict derivations, each stage's index =
  // pruned corpus bands + ALL bands of earlier stages' admissions
  // (append-time prune bypass mirrored), exact fingerprints likewise.
  // One doubled admission, one leaked duplicate, or one batch seeing
  // its own generation on replay breaks the hash.
  /** Per-stage verdict restatement: stage `g`'s batch is
    * `doc_id%5=4 AND doc_id%3=g`; its visible index is the corpus
    * (bucket-pruned, build-time) plus admissions of stages < g
    * (unpruned — the append path bypasses the bucket bound). The
    * signature/fingerprint chains are computed ONCE over all documents
    * (`a`-prefixed) and filtered per stage — per-doc independent, so
    * identical to per-side chains. */
  private lazy val streamingDedupOracle: String = {
    def stage(g: Int): String = {
      val admBands =
        if (g == 0) ""
        else (0 until g).map(h =>
          s"""
      UNION ALL SELECT doc, sig, band, key FROM abanded
        WHERE doc IN (SELECT doc FROM adm$h)""").mkString
      val admFps =
        if (g == 0) ""
        else (0 until g).map(h =>
          s"""
      UNION ALL SELECT doc, fp FROM afp
        WHERE doc IN (SELECT doc FROM adm$h)""").mkString
      s"""b$g AS (SELECT doc, sig, band, key FROM abanded
        WHERE doc % 5 = 4 AND doc % 3 = $g),
      idxb$g AS (SELECT doc, sig, band, key FROM cpruned$admBands),
      idxfp$g AS (SELECT doc, fp FROM cfp$admFps),
      cand$g AS (SELECT DISTINCT x.doc AS bdoc, x.sig AS s1, y.doc AS cdoc, y.sig AS s2
          FROM b$g x JOIN idxb$g y ON x.band = y.band AND x.key = y.key
        UNION
        SELECT DISTINCT x.doc AS bdoc, x.sig AS s1, y.doc AS cdoc, y.sig AS s2
          FROM b$g x JOIN b$g y ON x.band = y.band AND x.key = y.key AND y.doc < x.doc),
      est$g AS (SELECT bdoc, cdoc,
          CAST(list_sum(list_transform(range(1,$mhK+1),
            i -> CASE WHEN s1[i] = s2[i] THEN 1 ELSE 0 END)) AS DOUBLE)/$mhK AS est_sim
        FROM cand$g),
      near$g AS (SELECT * FROM
          (SELECT bdoc, cdoc, est_sim,
             ROW_NUMBER() OVER (PARTITION BY bdoc ORDER BY est_sim DESC, cdoc) AS rn
           FROM est$g WHERE est_sim >= 0.4)
        WHERE rn = 1),
      bfp$g AS (SELECT doc, fp FROM afp WHERE doc % 5 = 4 AND doc % 3 = $g),
      ex$g AS (SELECT doc, MIN(exact_doc) AS exact_doc FROM (
          SELECT b.doc, c.doc AS exact_doc FROM bfp$g b JOIN idxfp$g c USING (fp)
          UNION ALL
          SELECT b.doc, b2.doc AS exact_doc FROM bfp$g b JOIN bfp$g b2 USING (fp)
          WHERE b2.doc < b.doc) GROUP BY doc),
      v$g AS (SELECT bt.doc_id,
          CASE WHEN e.exact_doc IS NOT NULL THEN 'exact'
               WHEN n.cdoc IS NOT NULL THEN 'near' ELSE 'new' END AS verdict,
          CAST(COALESCE(e.exact_doc, n.cdoc, -1) AS BIGINT) AS match_doc,
          CASE WHEN e.exact_doc IS NOT NULL THEN CAST(1.0 AS DOUBLE)
               ELSE CAST(COALESCE(n.est_sim, 0.0) AS DOUBLE) END AS est_sim
        FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4 AND doc_id % 3 = $g) bt
          LEFT JOIN ex$g e ON e.doc = bt.doc_id
          LEFT JOIN near$g n ON n.bdoc = bt.doc_id),
      adm$g AS (SELECT doc_id AS doc FROM v$g WHERE verdict = 'new')"""
    }
    s"""WITH ${mhSigCtesFrom("a", "documents")},
      afp AS (SELECT doc_id AS doc, md5(lower(text)) AS fp FROM documents),
      cb AS (SELECT doc, sig, band, key FROM abanded WHERE doc % 5 <> 4),
      cpruned AS (SELECT doc, sig, band, key FROM
          (SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bucket_n FROM cb)
        WHERE bucket_n <= 1000),
      cfp AS (SELECT doc, fp FROM afp WHERE doc % 5 <> 4),
      ${stage(0)},
      ${stage(1)},
      ${stage(2)}
      SELECT doc_id, verdict, match_doc, est_sim
      FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2)
      ORDER BY doc_id"""
  }

  val e54 = Q(
    "e54_streaming_dedup_ingest",
    (outer, d) => {
      val s = graft.streaming.StateBackend.isolatedStreamSession(outer)
      val docs = T.documents(s, d)
      val dir = tempQueryDir("graft_e54_idx")
      Dedup.buildDedupIndex(docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text",
        dir, k = mhK, bands = mhBands)
      // stage the ingest as three deterministic micro-batches: one FILE
      // per doc_id%3 slice, mtimes pinned ascending so the file source
      // (oldest-first) admits them in slice order, one file per trigger
      val staging = tempQueryDir("graft_e54_in")
      val fs = new org.apache.hadoop.fs.Path(staging)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // the three slice writes are independent — overlap them (§2.6)
      ConcurrentActions.inParallel((0 to 2).map(g => () => {
        val p = s"$staging/slice$g"
        docs.filter(col("doc_id") % 5 === 4 && col("doc_id") % 3 === g)
          .coalesce(1).write.mode("overwrite").parquet(p)
        fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
          .foreach(st => fs.setTimes(st.getPath, 1700000000000L + g * 60000L, -1))
        ()
      }): _*)
      val sch = s.read.parquet(s"$staging/slice0").schema
      val src = s.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(s"$staging/slice*")
      val sink = tempQueryDir("graft_e54_out") + "/verdicts"
      val ckpt = tempQueryDir("graft_e54_ck")
      val q = CorpusPipeline.streamingDedupIngest(src, "doc_id", "text",
        dir, sink, ckpt, minEstSim = 0.4)
      q.awaitTermination()
      graft.streaming.MicroBatchPlans.record("e54_streaming_dedup_ingest", q)
      graft.streaming.ExactlyOnce.readCommitted(s, sink)
        .select(col("doc_id"), col("verdict"), col("match_doc"), col("est_sim"))
        .orderBy(col("doc_id"))
    },
    Some(streamingDedupOracle))

  // E3+E4 composition (streaming vector ingest × persisted ANN index):
  // e54's shape for the OTHER index — build the IVF-PQ index over the
  // pre-stream base (vec_id%4≠3), stream the remaining vectors in as
  // TWO deterministic micro-batches of batch-keyed frozen-model appends
  // (replays skip, crash-partial invisible — the e54 admission
  // discipline without a verdict side, since vector ingest has no
  // dedup gate), then serve probes against the final index. The oracle
  // is the parameterized IVF-PQ restatement with training pinned to
  // the base: the frozen-model contract makes the final index
  // INDEPENDENT of the batching, so one static restatement pins the
  // whole stream. Serving goes through the cell-pruned queryIndex path.
  val e55 = Q(
    "e55_streaming_ann_ingest",
    (outer, d) => {
      val s = graft.streaming.StateBackend.isolatedStreamSession(outer)
      val embs = T.embeddings(s, d)
      val dir = tempQueryDir("graft_e55_idx")
      Similarity.buildIndex(embs.filter(col("vec_id") % 4 =!= 3), dir,
        nlist = 64, m = 16, ksub = 64, pqIters = 2)
      val staging = tempQueryDir("graft_e55_in")
      val fs = new org.apache.hadoop.fs.Path(staging)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // independent slice writes — overlap them (§2.6)
      ConcurrentActions.inParallel(Seq((3L, 0), (7L, 1)).map { case (m8, g) => () => {
        val p = s"$staging/slice$g"
        embs.filter(col("vec_id") % 8 === m8)
          .coalesce(1).write.mode("overwrite").parquet(p)
        fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
          .foreach(st => fs.setTimes(st.getPath, 1700000000000L + g * 60000L, -1))
        ()
      }}: _*)
      val sch = s.read.parquet(s"$staging/slice0").schema
      val src = s.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(s"$staging/slice*")
      val ckpt = tempQueryDir("graft_e55_ck")
      // the model is frozen at build — load once, pin for every batch
      // (r21: three model-table read jobs per append otherwise)
      var pinned: Option[Similarity.IvfPqIndex] = None
      val q = src.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (pinned.isEmpty) {
            // batch-bounded append DAG (frozen broadcast model, batch
            // codes): AQE's per-stage jobs are pure overhead here —
            // same scoped-to-the-stream-session reasoning as
            // CorpusPipeline.streamingDedupIngest
            b.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
            pinned = Some(Similarity.loadIndex(b.sparkSession, dir))
          }
          Similarity.appendToIndex(b, dir, asStreamBatch = Some(id),
            knownIndex = pinned)
        }
        .start()
      q.awaitTermination()
      graft.streaming.MicroBatchPlans.record("e55_streaming_ann_ingest", q)
      val idx = Similarity.loadIndex(s, dir)
      Similarity.queryIndex(idx, embs.filter(col("vec_id") < 10), k = 5, nprobe = 8)
    },
    Some(ivfPqServeOracle(
      "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 3)")))

  // E3 (semantic dedup, SemDeDup-shaped): Lloyd cells (e14's exact
  // training restatement) then within-cell pruning — a member drops when
  // a more-central member (higher cosine to the centroid, ties → smaller
  // id) sits within cosine 0.45 of it. The oracle replays the identical
  // draw, refinement, assignment, centrality ranking, maxCell guard and
  // pair ranking. Pairwise work is confined to cells — the scale answer
  // to e04's declared all-pairs slice.
  val e56 = Q(
    "e56_semantic_dedup",
    (s, d) => Similarity.semanticDedup(T.embeddings(s, d), tau = 0.45,
      nlist = 16, lloydIters = 2).orderBy(col("vec_id")),
    Some(s"""WITH corp AS (SELECT vec_id, embedding,
        SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS vn
        FROM embeddings),
      picked AS (SELECT vec_id, embedding FROM embeddings
        ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        LIMIT 16),
      seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS ce,
          SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cn
        FROM picked),
      ${lloydRoundSql(1, "seeds", "cents_1")},
      ${lloydRoundSql(2, "cents_1", "cents")},
      ac AS (SELECT c.vec_id, c.vn, ct.cid,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(c.embedding)+1),
            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)))
            / (c.vn * ct.cn) AS ccos
        FROM corp c, cents ct),
      asg AS (SELECT vec_id, cid, ccos FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn FROM ac)
        WHERE crn = 1),
      sized AS (SELECT vec_id, cid, ccos,
          COUNT(*) OVER (PARTITION BY cid) AS cell_n,
          ROW_NUMBER() OVER (PARTITION BY cid ORDER BY ccos DESC, vec_id) AS crank
        FROM asg),
      el AS (SELECT s.vec_id, s.cid, s.crank, c.embedding, c.vn
        FROM sized s JOIN corp c USING (vec_id) WHERE s.cell_n <= 10000),
      pr AS (SELECT a.vec_id AS id, b.vec_id AS oid,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(a.embedding)+1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
            / (a.vn * b.vn) AS cos
        FROM el a JOIN el b ON a.cid = b.cid AND b.crank < a.crank),
      best AS (SELECT id, oid, cos FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cos DESC, oid) AS rn
           FROM pr WHERE cos >= 0.45)
        WHERE rn = 1)
      SELECT s.vec_id, CAST(s.cid AS BIGINT) AS cid,
        CASE WHEN b.oid IS NULL THEN 'keep' ELSE 'drop' END AS verdict,
        CAST(COALESCE(b.oid, -1) AS BIGINT) AS dup_of,
        CAST(COALESCE(b.cos, 0.0) AS DOUBLE) AS dup_cos
      FROM sized s LEFT JOIN best b ON b.id = s.vec_id ORDER BY s.vec_id"""))

  // E1 (cross-doc repeated spans): k-token-window duplicate coverage —
  // the exact-substring-dedup approximation (Lee et al. 2022). The
  // oracle restates the same window fingerprints (concat_ws skips the
  // out-of-range NULLs on both engines, so short docs yield their whole
  // text as one window), document frequency, and coverage verdicts.
  val e57 = Q(
    "e57_span_coverage",
    (s, d) => Dedup.duplicateSpanCoverage(T.documents(s, d), "doc_id", "text",
      k = 5, minDf = 2, trimAt = 0.5).orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id AS doc, string_split(text, ' ') AS ws FROM documents),
      g AS (SELECT doc, CAST(('0x'||substr(md5(
            concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4])),1,15)) AS BIGINT) AS fp
        FROM w, UNNEST(range(1, greatest(len(ws)-4,1)+1)) AS t(i)),
      dfr AS (SELECT fp, COUNT(DISTINCT doc) AS ndocs FROM g GROUP BY fp),
      cov AS (SELECT g.doc, COUNT(*) AS n_grams,
          SUM(CASE WHEN dfr.ndocs >= 2 THEN 1 ELSE 0 END) AS dup_grams
        FROM g JOIN dfr USING (fp) GROUP BY g.doc)
      SELECT doc AS doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        CAST(dup_grams AS BIGINT) AS dup_grams,
        CAST(dup_grams AS DOUBLE)/n_grams AS dup_coverage,
        CASE WHEN CAST(dup_grams AS DOUBLE)/n_grams >= 0.5 THEN 'trim' ELSE 'keep' END AS verdict
      FROM cov ORDER BY doc_id"""))

  // E2 capstone, scale flavor: bloom-pruned decontamination — the
  // broadcast-prune path for e21's report. The train side folds into one
  // serialized bloom (Spark's own runtime-filter aggregate, no exchange),
  // the eval side probes it map-side, the exact semi-join removes false
  // positives — so the report is EXACT and the oracle is plain SQL over
  // the shingle strings (bloom membership never reaches the output).
  // Different source pair than e21 (src1 vs src0) and per-row denominator
  // semantics (unique eval ids contracted).
  val e58 = Q(
    "e58_bloom_decontaminate",
    (s, d) => Dedup.bloomDecontaminate(T.documents(s, d), "doc_id", "text",
      "source", evalSource = "src1", trainSource = "src0",
      shingleWidth = 3, threshold = 0.0)
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id, source, string_split(text,' ') ws FROM documents),
      shl AS (SELECT doc_id, source,
          LIST_DISTINCT(LIST_TRANSFORM(range(1, greatest(len(ws)-2,1)+1),
            i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS shs
        FROM w),
      train AS (SELECT DISTINCT s FROM (SELECT UNNEST(shs) AS s FROM shl WHERE source='src0')),
      ev AS (SELECT doc_id, UNNEST(shs) AS s FROM shl WHERE source='src1'),
      sizes AS (SELECT doc_id, len(shs) AS n FROM shl WHERE source='src1'),
      hits AS (SELECT e.doc_id, COUNT(*) AS h FROM ev e JOIN train t ON e.s = t.s
               GROUP BY e.doc_id)
      SELECT s.doc_id, CAST(s.n AS INT) AS n_shingles, COALESCE(h.h, 0) AS n_hit,
        CAST(COALESCE(h.h, 0) AS DOUBLE)/s.n AS overlap
      FROM sizes s LEFT JOIN hits h USING (doc_id)
      ORDER BY doc_id"""))

  // E4 (data mixing, derived rates): temperature mixture over languages —
  // e18's stratified sampler takes FIXED rates; this derives them from
  // the corpus's own counts (p_l ∝ n_l^0.5, the multilingual smoothing),
  // so low-resource langs are up-weighted relative to share. Output is
  // float-free (membership + integer counts); the oracle restates the
  // sqrt-weight/rate arithmetic in the same pinned op order.
  val e59 = Q(
    "e59_mixture_sample",
    (s, d) => Sampling.temperatureMixtureSample(T.documents(s, d), "doc_id",
      "lang", alpha = 0.5, budget = 250)
      .withColumn("n_stratum", col("n_stratum").cast("long"))
      .orderBy(col("doc_id")),
    Some("""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      w AS (SELECT lang, n, SQRT(CAST(n AS DOUBLE)) AS w FROM c),
      t AS (SELECT SUM(w) AS tw FROM w),
      r AS (SELECT lang, n, LEAST(1.0, 250.0 * w / tw / n) AS rate FROM w, t)
      SELECT d.doc_id, d.lang, CAST(r.n AS BIGINT) AS n_stratum
      FROM documents d JOIN r USING (lang)
      WHERE CAST(CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,6)) AS BIGINT) AS DOUBLE)
         < r.rate * 16777216.0
      ORDER BY d.doc_id"""))

  // E4 (LM quality gate): unigram surprisal filter — the corpus as its
  // own language model, docs scored by mean token surprisal in integer
  // micro-nats (every cross-row aggregate exact and order-free; the
  // CCNet perplexity-filter shape reduced to the oracle-restatable
  // unigram case). Flags the high-surprisal tail (~10% at this gate).
  val e60 = Q(
    "e60_unigram_surprisal",
    (s, d) => TextOps.unigramSurprisal(T.documents(s, d), "doc_id", "text",
      flagAboveMicro = 3420000L)
      .orderBy(col("doc_id")),
    Some("""WITH tok AS (SELECT doc_id, t.term FROM documents,
          UNNEST(string_split(text, ' ')) AS t(term) WHERE length(t.term) > 0),
      c AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
      tt AS (SELECT SUM(c) AS T FROM c),
      w AS (SELECT term,
          CAST(FLOOR(-LN(CAST(c AS DOUBLE) / T) * 1000000) AS BIGINT) AS s_micro
        FROM c, tt),
      sc AS (SELECT tok.doc_id, COUNT(*) AS n_tokens, SUM(w.s_micro) AS surprisal_micro
        FROM tok JOIN w USING (term) GROUP BY 1)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(surprisal_micro AS BIGINT) AS surprisal_micro,
        CAST(surprisal_micro // n_tokens AS BIGINT) AS avg_surprisal_micro,
        CASE WHEN surprisal_micro // n_tokens > 3420000 THEN 'flag' ELSE 'keep' END AS verdict
      FROM sc ORDER BY doc_id"""))

  // Shared BM25 restatement (e61 ranking / e63 lexical leg): the whole
  // idf + tf-norm arithmetic lives ONCE, parameterized by the query
  // terms — the mhCtesFrom factoring precedent applied to retrieval.
  // Numerator order mirrors TextOps.bm25TopK exactly: the int64 factor
  // idf·22·tf stays small, then ONE widening multiply by T in DOUBLE
  // (the fused int64 product would overflow past T ≈ 3e10 tokens).
  private def bm25Ctes(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      dl AS (SELECT doc_id, len(list_filter(ws, w -> length(w) > 0)) AS dl FROM d),
      tok AS (SELECT doc_id, t.term FROM d, UNNEST(ws) AS t(term)
        WHERE t.term IN ($inList)),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      tot AS (SELECT (SELECT COUNT(*) FROM documents) AS N,
          (SELECT SUM(len(list_filter(string_split(text, ' '), w -> length(w) > 0)))
           FROM documents) AS T),
      w AS (SELECT term, CAST(FLOOR(LN(1.0 +
            (CAST(N AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * 1000000) AS BIGINT)
            AS idf_micro
        FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), tot),
      sc AS (SELECT tf.doc_id,
          SUM(CAST(FLOOR(CAST(w.idf_micro * 22 * tf.tf AS DOUBLE) * CAST(tot.T AS DOUBLE) /
            CAST(10 * tot.T * tf.tf + 3 * tot.T + 9 * dl.dl * tot.N AS DOUBLE)) AS BIGINT))
            AS score_micro
        FROM tf JOIN w USING (term) JOIN dl USING (doc_id), tot
        GROUP BY 1)"""
  }

  // E4 (retrieval, BM25): the canonical lexical ranker over the corpus —
  // e30's integer-idf discipline extended to BM25's tf saturation and
  // length normalization, which at k1=1.2, b=0.75 reduce to a ratio of
  // integers (see TextOps.bm25TopK); per-(doc,term) contributions floor
  // to micro units, per-doc scores sum exactly.
  val e61 = Q(
    "e61_bm25_topk",
    (s, d) => TextOps.bm25TopK(T.documents(s, d), "doc_id", "text",
      terms = Seq("hash", "join", "customer"), k = 10)
      .orderBy(col("rn")),
    Some(s"""WITH ${bm25Ctes(Seq("hash", "join", "customer"))},
      r AS (SELECT doc_id, score_micro,
          ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rn FROM sc)
      SELECT doc_id, CAST(score_micro AS BIGINT) AS score_micro, rn
      FROM r WHERE rn <= 10 ORDER BY rn"""))

  // E2/E4 composition (split-contamination guard): train/val/test split
  // assigned by NEAR-DUP CLUSTER, not by document — e15's connected
  // components decide the split key, so every near-dup family lands on
  // one side of the boundary and test material can't leak into train
  // through near-copies. Same MinHash/CC front as e15 (the oracle
  // reuses its recursive CTEs verbatim); singletons split on their own
  // id; membership is the engine-neutral 24-bit hash in permille bands
  // (100 test / 100 val).
  val e62 = Q(
    "e62_leakage_safe_split",
    (s, d) => Sampling.leakageSafeSplit(T.documents(s, d), "doc_id",
      Dedup.minhashCandidatesPortable(T.documents(s, d), "doc_id", "text",
        k = mhK, bands = mhBands, minEstSim = 0.4),
      valPermille = 100, testPermille = 100)
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE $mhCtes,
      $ccCtes
      SELECT d.doc_id,
        COALESCE(c.cluster_rep, d.doc_id) AS split_key,
        CASE WHEN CAST(('0x'||substr(md5(CAST(COALESCE(c.cluster_rep, d.doc_id) AS VARCHAR)),1,6)) AS BIGINT) % 1000 < 100 THEN 'test'
             WHEN CAST(('0x'||substr(md5(CAST(COALESCE(c.cluster_rep, d.doc_id) AS VARCHAR)),1,6)) AS BIGINT) % 1000 < 200 THEN 'val'
             ELSE 'train' END AS split
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  // Shared RRF fusion restatement (e63/e64): BM25 lexical ranks off
  // bm25Ctes' `sc`, fused with a caller-supplied `vr(doc_id, vec_rn)`
  // CTE that must be defined BEFORE this tail in the WITH list. One
  // copy of the 1e6 // (60 + rank) arithmetic — the bm25Ctes factoring
  // discipline applied to the combiner.
  private val rrfTailSql: String =
    """lexr AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS lex_rn FROM sc),
      lr AS (SELECT doc_id, lex_rn FROM lexr WHERE lex_rn <= 50),
      f AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.lex_rn, v.vec_rn,
          COALESCE(1000000 // (60 + l.lex_rn), 0) + COALESCE(1000000 // (60 + v.vec_rn), 0)
            AS rrf_micro
        FROM lr l FULL OUTER JOIN vr v ON l.doc_id = v.doc_id),
      r AS (SELECT doc_id, COALESCE(lex_rn, -1) AS lex_rn,
          COALESCE(vec_rn, -1) AS vec_rn, rrf_micro,
          ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id) AS rn FROM f)
      SELECT doc_id, lex_rn, vec_rn, rrf_micro, rn FROM r WHERE rn <= 10 ORDER BY rn"""

  // E3/E4 composition (serving): hybrid retrieval — BM25 lexical ranks
  // fused with embedding-cosine ranks by Reciprocal Rank Fusion, the
  // float-free integer combiner (1e6 div (60 + rank) per leg, absent leg
  // contributes 0 / reports −1). Legs are the already-audited e61 and
  // e03 shapes at poolK 50; the fusion runs on ≤ 2·poolK rows.
  val e63 = Q(
    "e63_hybrid_rrf",
    (s, d) => Similarity.hybridRrfTopK(T.documents(s, d), T.embeddings(s, d),
      "doc_id", "text", terms = Seq("vector", "scan"), queryVecId = 0L,
      k = 10, poolK = 50)
      .orderBy(col("rn")),
    Some(s"""WITH ${bm25Ctes(Seq("vector", "scan"))},
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      vsc AS (SELECT e.vec_id AS doc_id,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(e.embedding)+1),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          / (SQRT(LIST_SUM(LIST_TRANSFORM(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           * SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM embeddings e, q WHERE e.vec_id <> 0),
      vr0 AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS vec_rn FROM vsc),
      vr AS (SELECT doc_id, vec_rn FROM vr0 WHERE vec_rn <= 50),
      $rrfTailSql"""))

  // E3/E4 capstone (serving at scale): e63's fusion with the vector leg
  // swapped for the PERSISTED IVF-PQ index serve — the 100 TB shape the
  // e63 scaladoc promises, actually wired and hash-checked: build the
  // index once (e47's geometry), serve the query batch through the
  // cell-pruned path, fuse those ranks with BM25 by the same integer
  // RRF. The oracle composes the two existing restatements — bm25Ctes
  // for the lexical leg and ivfPqServeOracle as a derived table for the
  // index leg (CTE names scope to the subquery) — so every arithmetic
  // detail is pinned by components that already hash-pass standalone.
  val e64 = Q(
    "e64_hybrid_index_rrf",
    (s, d) => {
      val dir = tempQueryDir("graft_e64_idx")
      Similarity.buildIndex(T.embeddings(s, d), dir,
        nlist = 64, m = 16, ksub = 64, pqIters = 2)
      val idx = Similarity.loadIndex(s, dir)
      // serve ONLY the fused query: per-qid results are independent
      // (scoreWithModel joins codes to the probe set ON cid, so each
      // qid scores exactly its own probed cells regardless of batch
      // mates) — the oracle restates the 10-query serve and filters to
      // qid 0, pinning that independence in the hash
      val vec = Similarity.queryIndex(idx,
          T.embeddings(s, d).filter(col("vec_id") === 0), k = 5, nprobe = 8)
        .select(col("vec_id").as("doc_id"), col("rn").as("vec_rn"))
      val lex = TextOps.bm25TopK(T.documents(s, d), "doc_id", "text",
          Seq("vector", "scan"), k = 50)
        .select(col("doc_id"), col("rn").as("lex_rn"))
      Similarity.rrfFuse(lex, vec, "doc_id", k = 10).orderBy(col("rn"))
    },
    Some(s"""WITH ${bm25Ctes(Seq("vector", "scan"))},
      vr AS (SELECT vec_id AS doc_id, rn AS vec_rn
        FROM (${ivfPqServeOracle("embeddings")}) WHERE qid = 0),
      $rrfTailSql"""))

  // E: distinct-token cardinality per source via the deterministic KMV
  // sketch (functions/KmvSketch.scala) — the bounded-state replacement
  // for exact COUNT(DISTINCT) at 100 TB (SURVEY §2 "Approx distinct",
  // previously capability-only because HLL++ isn't restatable across
  // engines). KMV IS: the sketch is a pure function of the 60-bit
  // md5-prefix hash family, so the oracle replays it exactly — the k
  // smallest distinct hashes per group via row_number() <= k, then the
  // same (k-1)·2^60/h_k estimator arithmetic, float-bit-identical.
  val e65 = Q(
    "e65_kmv_distinct",
    (s, d) => Cardinality.kmvDistinctTokens(T.documents(s, d), "source", "text", k = 256)
      .orderBy(col("source")),
    Some("""WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
      ), h AS (
        SELECT DISTINCT source, ('0x' || substr(md5(w), 1, 15))::BIGINT + 1 AS h FROM tok
      ), r AS (
        SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h
      )
      SELECT source,
        CAST(count(*) AS BIGINT) AS n_kmv,
        max(h) AS kth_min,
        CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
          ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / CAST(max(h) AS DOUBLE) END
          AS est_distinct
      FROM r WHERE rn <= 256
      GROUP BY source ORDER BY source"""))

  // E: Unicode normalization (functions/UnicodeNorm.scala) — the
  // canonical first pass before fingerprints/tokenizers. The testdata
  // corpus is already NFC, so the query APPENDS a decomposed suffix
  // (combining acute/diaeresis after base letters, built per-doc from
  // a text prefix) and normalizes: raw_cp > norm_cp proves composition
  // actually ran, and md5 over the composed bytes pins byte-exact
  // UAX #15 agreement between the JDK Normalizer and DuckDB's utf8proc.
  val e66 = Q(
    "e66_unicode_nfc",
    (s, d) => {
      val decomposed = concat(substring(col("text"), 1, 24), lit(" cafe\u0301 nai\u0308ve"))
      val norm = TextOps.normalizeUnicode(decomposed)
      T.documents(s, d).select(
        col("doc_id"),
        length(decomposed).cast("long").as("raw_cp"),
        length(norm).cast("long").as("norm_cp"),
        md5(norm).as("norm_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        CAST(length(substr(text, 1, 24) || ' cafe' || chr(769) || ' nai' || chr(776) || 've')
          AS BIGINT) AS raw_cp,
        CAST(length(nfc_normalize(
          substr(text, 1, 24) || ' cafe' || chr(769) || ' nai' || chr(776) || 've'))
          AS BIGINT) AS norm_cp,
        md5(nfc_normalize(
          substr(text, 1, 24) || ' cafe' || chr(769) || ' nai' || chr(776) || 've')) AS norm_md5
      FROM documents ORDER BY doc_id"""))

  // E: KMV sketch ALGEBRA — pairwise distinct-token overlap between
  // sources, computed entirely on the 20 per-source sketches (union =
  // slice(sort(array_union)), intersection by inclusion–exclusion),
  // never joining raw corpora. The oracle replays the identical
  // algebra: per-source k-smallest CTE, pair union re-truncated via a
  // second row_number, the same estimator and clamp arithmetic.
  val e67 = Q(
    "e67_kmv_overlap",
    (s, d) => Cardinality.kmvOverlap(T.documents(s, d), "source", "text", k = 256)
      .orderBy(col("source_a"), col("source_b")),
    Some("""WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
      ), hh AS (
        SELECT DISTINCT source, ('0x' || substr(md5(w), 1, 15))::BIGINT + 1 AS h FROM tok
      ), sk AS (
        SELECT source, h FROM (
          SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hh
        ) t WHERE rn <= 256
      ), est AS (
        SELECT source,
          CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
            ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / CAST(max(h) AS DOUBLE) END AS est
        FROM sk GROUP BY source
      ), pairs AS (
        SELECT a.source AS sa, b.source AS sb FROM est a JOIN est b ON a.source < b.source
      ), uh AS (
        SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.source IN (p.sa, p.sb)
        GROUP BY p.sa, p.sb, s.h
      ), ur AS (
        SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM uh
      ), uest AS (
        SELECT sa, sb,
          CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
            ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / CAST(max(h) AS DOUBLE) END AS est_union
        FROM ur WHERE rn <= 256 GROUP BY sa, sb
      )
      SELECT u.sa AS source_a, u.sb AS source_b, ea.est AS est_a, eb.est AS est_b,
        u.est_union,
        GREATEST(CAST(0 AS DOUBLE), ea.est + eb.est - u.est_union) AS est_intersect,
        GREATEST(CAST(0 AS DOUBLE), ea.est + eb.est - u.est_union) / u.est_union AS jaccard_est
      FROM uest u
      JOIN est ea ON ea.source = u.sa
      JOIN est eb ON eb.source = u.sb
      ORDER BY source_a, source_b"""))

  // E12 × streaming: the KMV sketch as STREAMING aggregation state —
  // distinct-user cardinality per event type over the events stream,
  // the live-dashboard shape at 100 TB/day (exact streaming distinct
  // grows state linearly in users; the sketch holds k longs per group,
  // merged incrementally by the state store across micro-batches). The
  // stream is unioned with itself (at-least-once delivery): KMV is a
  // SET sketch, so redelivery must not move a single hash — the batch
  // oracle over the UNDUPLICATED events pins exactly that, and pins
  // that incremental merge across batch boundaries equals one batch
  // aggregation. Complete-mode AvailableNow drain on RocksDB, the
  // c40/c47 lifecycle discipline.
  val e68 = Q(
    "e68_stream_kmv_distinct",
    (outer, d) => {
      val s = graft.streaming.StateBackend.isolatedStreamSession(outer)
      def src = graft.streaming.StreamQueries.eventStream(s, d)
      val hashed = src.union(src).select(col("event_type"),
        Cardinality.portableStringHash(col("user_id")).as("h"))
      val agg = hashed.groupBy(col("event_type"))
        .agg(call_function("graft_kmv", col("h"), lit(256)).as("kmv"))
      val q = agg.writeStream
        .format("memory").queryName("graft_e68_stream")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_e68_stream")
        .select(col("event_type") +: Cardinality.estimateCols(col("kmv"), 256): _*)
        .orderBy(col("event_type"))
    },
    Some("""WITH hh AS (
        SELECT DISTINCT event_type,
          ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT + 1 AS h
        FROM events
      ), r AS (
        SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hh
      )
      SELECT event_type,
        CAST(count(*) AS BIGINT) AS n_kmv,
        max(h) AS kth_min,
        CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
          ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / CAST(max(h) AS DOUBLE) END
          AS est_distinct
      FROM r WHERE rn <= 256
      GROUP BY event_type ORDER BY event_type"""))

  // E: integer-exact PageRank over the e02 near-dup graph — importance
  // propagation picks the most-connected member of each duplicate
  // family (the keep-best signal CC alone can't provide). Ranks live in
  // BIGINT micro-units, every step integer div/sum (the e61/e63
  // integer-scoring discipline), so the oracle replays 3 unrolled
  // Pregel rounds bit-exactly on top of the e02 pair CTE it already
  // hash-passes standalone.
  val e69 = Q(
    "e69_pagerank_dups",
    (s, d) => Graph.integerPageRank(
      Dedup.jaccardPairs(T.documents(s, d).filter(col("doc_id") < 1000),
        "doc_id", "text", shingleWidth = 3, threshold = 0.5,
        maxDf = Int.MaxValue),
      "doc1", "doc2", iters = 3)
      .orderBy(col("node")),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE doc_id < 1000),
      sh AS (SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS s
        FROM w, UNNEST(range(1, greatest(len(ws)-2, 1)+1)) AS t(i))),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pairs AS (SELECT doc1, doc2
                FROM inter JOIN sizes n1 ON n1.doc_id = doc1
                JOIN sizes n2 ON n2.doc_id = doc2
                WHERE CAST(inter.i AS DOUBLE)/(n1.n + n2.n - inter.i) >= 0.5),
      sym AS (SELECT doc1 AS u, doc2 AS v FROM pairs
              UNION ALL SELECT doc2, doc1 FROM pairs),
      deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
      r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
      r1 AS (SELECT s.v AS node,
             CAST(150000 + (850000 * SUM(r.rank // d.deg)) // 1000000 AS BIGINT) AS rank
             FROM sym s JOIN r0 r ON r.node = s.u JOIN deg d ON d.u = s.u
             GROUP BY s.v),
      r2 AS (SELECT s.v AS node,
             CAST(150000 + (850000 * SUM(r.rank // d.deg)) // 1000000 AS BIGINT) AS rank
             FROM sym s JOIN r1 r ON r.node = s.u JOIN deg d ON d.u = s.u
             GROUP BY s.v),
      r3 AS (SELECT s.v AS node,
             CAST(150000 + (850000 * SUM(r.rank // d.deg)) // 1000000 AS BIGINT) AS rank
             FROM sym s JOIN r2 r ON r.node = s.u JOIN deg d ON d.u = s.u
             GROUP BY s.v)
      SELECT r3.node AS node, r3.rank AS rank_micro, deg.deg AS deg
      FROM r3 JOIN deg ON deg.u = r3.node
      ORDER BY node"""))

  // E: bounded-state top-k per group (functions/TopKAgg.scala) — the
  // shuffle-light replacement for `row_number() OVER (...) <= k`:
  // WindowExec shuffles and sorts EVERY row per group; the aggregate
  // ships at most k (key, id) pairs per (partition, group) and sorts
  // nothing. The (key DESC, id ASC) total order makes it row-identical
  // to the window formulation — which is exactly what the oracle runs.
  val e70 = Q(
    "e70_topk_per_group",
    (s, d) => {
      T.documents(s, d)
        .groupBy(col("source"))
        .agg(call_function("graft_topk", col("n_chars"), col("doc_id"), lit(3)).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rn"),
          col("col.id").as("doc_id"), col("col.key").as("n_chars"))
        .orderBy(col("source"), col("rn"))
    },
    Some("""SELECT source, CAST(rn AS BIGINT) AS rn, doc_id, n_chars
      FROM (SELECT source, doc_id, n_chars,
            row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
            FROM documents) t
      WHERE rn <= 3 ORDER BY source, rn"""))

  // E12 capstone: one-scan column profiling — null count + KMV distinct
  // estimate for SIX lineitem columns computed in a SINGLE global
  // aggregation (one pass however many columns), unpivoted to a row per
  // column. The oracle unions six per-column KMV restatements — each
  // the e65 arithmetic over md5(CAST(col AS VARCHAR)).
  private val profCols =
    Seq("l_linenumber", "l_linestatus", "l_orderkey", "l_partkey",
      "l_returnflag", "l_suppkey")

  private def profOracleBlock(c: String): String =
    s"""SELECT '$c' AS column_name,
      (SELECT CAST(COUNT(*) - COUNT($c) AS BIGINT) FROM lineitem) AS n_nulls,
      CAST(count(*) AS BIGINT) AS n_kmv,
      max(h) AS kth_min,
      CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
        ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / CAST(max(h) AS DOUBLE) END
        AS est_distinct
    FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
      SELECT DISTINCT ('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT + 1 AS h
      FROM lineitem WHERE $c IS NOT NULL) hh) r
    WHERE rn <= 256"""

  val e71 = Q(
    "e71_column_profile",
    (s, d) => Cardinality.profileColumns(T.lineitem(s, d), profCols, k = 256)
      .orderBy(col("column_name")),
    Some(profCols.map(profOracleBlock).mkString(
      "", "\nUNION ALL\n", "\nORDER BY column_name")))

  // E12: join-cardinality estimation from KMV sketches — planner-grade
  // statistics without running the join (one sketch scan per side,
  // overlap by the e67 union algebra, scaled by observed mean key
  // multiplicity). The declared query ALSO runs the real join so the
  // estimate stands next to its truth in the same hashed row; the
  // oracle replays sketch, estimator and scaling arithmetic exactly.
  val e72 = Q(
    "e72_join_size_estimate",
    (s, d) => {
      val li = T.lineitem(s, d)
      val ord = T.orders(s, d)
      val actual = li.select(col("l_orderkey"))
        .join(ord.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("actual_join_rows"))
      Cardinality.kmvJoinSizeEstimate(li, "l_orderkey", ord, "o_orderkey", k = 256)
        .crossJoin(actual)
    },
    Some("""WITH ha AS (SELECT DISTINCT
          ('0x'||substr(md5(CAST(l_orderkey AS VARCHAR)),1,15))::BIGINT + 1 AS h
        FROM lineitem WHERE l_orderkey IS NOT NULL),
      ra AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha),
      hb AS (SELECT DISTINCT
          ('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)),1,15))::BIGINT + 1 AS h
        FROM orders WHERE o_orderkey IS NOT NULL),
      rb AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb),
      ru AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
        SELECT h FROM ra WHERE rn <= 256 UNION SELECT h FROM rb WHERE rn <= 256) u),
      sa AS (SELECT count(*) AS n, max(h) AS kth FROM ra WHERE rn <= 256),
      sb AS (SELECT count(*) AS n, max(h) AS kth FROM rb WHERE rn <= 256),
      su AS (SELECT count(*) AS n, max(h) AS kth FROM ru WHERE rn <= 256),
      cnts AS (SELECT
        (SELECT CAST(COUNT(l_orderkey) AS BIGINT) FROM lineitem) AS a_rows,
        (SELECT CAST(COUNT(o_orderkey) AS BIGINT) FROM orders) AS b_rows),
      est0 AS (SELECT a_rows, b_rows,
        CASE WHEN sa.n < 256 THEN CAST(sa.n AS DOUBLE)
          ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / CAST(sa.kth AS DOUBLE) END AS est_a,
        CASE WHEN sb.n < 256 THEN CAST(sb.n AS DOUBLE)
          ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / CAST(sb.kth AS DOUBLE) END AS est_b,
        CASE WHEN su.n < 256 THEN CAST(su.n AS DOUBLE)
          ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / CAST(su.kth AS DOUBLE) END AS est_union
        FROM sa, sb, su, cnts),
      est1 AS (SELECT *, GREATEST(CAST(0 AS DOUBLE), est_a + est_b - est_union) AS est_overlap
        FROM est0),
      actual AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual_join_rows
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT a_rows, b_rows, est_a, est_b, est_overlap,
        CASE WHEN est_a = 0 OR est_b = 0 THEN CAST(0 AS DOUBLE)
          ELSE est_overlap * (CAST(a_rows AS DOUBLE) / est_a)
            * (CAST(b_rows AS DOUBLE) / est_b) END AS est_join_rows,
        actual_join_rows
      FROM est1, actual"""))

  // E12 × streaming × event time: the KMV sketch keyed by a tumbling
  // 1-day EVENT-TIME window — daily distinct users per event type, the
  // dashboard query at 100 TB/day. Composes the c40 window machinery
  // with the custom imperative aggregate: per-(type, day) state is k
  // longs in the RocksDB store, merged incrementally, and the
  // self-union redelivery plus the batch oracle pin set semantics
  // across both micro-batch AND window boundaries.
  val e73 = Q(
    "e73_stream_kmv_daily",
    (outer, d) => {
      val s = graft.streaming.StateBackend.isolatedStreamSession(outer)
      def src = graft.streaming.StreamQueries.eventStream(s, d)
      val hashed = src.union(src).select(col("event_type"), col("ts"),
        Cardinality.portableStringHash(col("user_id")).as("h"))
      val agg = hashed
        .groupBy(col("event_type"), window(col("ts"), "1 day"))
        .agg(call_function("graft_kmv", col("h"), lit(256)).as("kmv"))
        .select(col("event_type"), to_date(col("window.start")).as("day"), col("kmv"))
      val q = agg.writeStream
        .format("memory").queryName("graft_e73_stream")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_e73_stream")
        .select(col("event_type") +: col("day") +:
          Cardinality.estimateCols(col("kmv"), 256): _*)
        .orderBy(col("event_type"), col("day"))
    },
    Some("""WITH hh AS (
        SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
          ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT + 1 AS h
        FROM events
      ), r AS (
        SELECT event_type, day, h,
          row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
        FROM hh
      )
      SELECT event_type, day,
        CAST(count(*) AS BIGINT) AS n_kmv,
        max(h) AS kth_min,
        CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
          ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / CAST(max(h) AS DOUBLE) END
          AS est_distinct
      FROM r WHERE rn <= 256
      GROUP BY event_type, day ORDER BY event_type, day"""))

  // E12: Count-Min frequency estimation — the sketch family's fourth
  // leg (KMV "how many distinct", bloom "seen?", top-k "which are
  // biggest", CMS "how often is THIS one"). One 4×1024 grid over every
  // token occurrence, vector-add merged; the top-10 exact tokens'
  // estimates are read out of the grid next to their true counts. The
  // oracle restates every counter cell (md5-slice row hashes, grouped
  // counts) and takes the same MIN.
  val e74 = Q(
    "e74_cms_frequency",
    (s, d) => Cardinality.cmsTokenFrequencies(T.documents(s, d), "text",
      w = 1024, d = 4, topK = 10),
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      cells AS (SELECT u.r, ('0x'||substr(md5(t), 1+8*(u.r-1), 8))::BIGINT % 1024 AS c,
          COUNT(*) AS n
        FROM tok, UNNEST([1,2,3,4]) AS u(r) GROUP BY 1, 2),
      true_counts AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS true_n FROM tok GROUP BY t),
      top AS (SELECT t, true_n FROM true_counts ORDER BY true_n DESC, t LIMIT 10),
      qcells AS (SELECT top.t, top.true_n, u.r,
          ('0x'||substr(md5(top.t), 1+8*(u.r-1), 8))::BIGINT % 1024 AS c
        FROM top, UNNEST([1,2,3,4]) AS u(r)),
      est AS (SELECT q.t, q.true_n, CAST(MIN(cells.n) AS BIGINT) AS cms_est
        FROM qcells q JOIN cells ON cells.r = q.r AND cells.c = q.c
        GROUP BY 1, 2)
      SELECT t AS token, true_n AS true_count, cms_est FROM est
      ORDER BY true_count DESC, token"""))

  // E12: AMS F2 / self-join-size sketch — skew statistics for the
  // salting decision (e45/Skew) without the per-key count shuffle the
  // exact form needs: 16 map-side ± sums, sign bits from md5 slices,
  // E[S²]=F2. Both arms (exact via groupBy, estimate via the sums)
  // ride the SAME Scala loop geometry the oracle string is generated
  // from — one source of truth for the estimator layout.
  private def amsOracle(table: String, key: String): String = {
    // geometry and slice formula come from Cardinality — ONE source of
    // truth, so reshaping the estimator layout there re-generates this
    // oracle rather than desynchronizing it
    val rb = Cardinality.AmsEstimators
    val sums = rb.map { case (r, b) =>
      s"SUM(1 - 2 * ((${Cardinality.amsSliceSql(key, r)} >> $b) % 2)) AS s_${r}_$b"
    }.mkString(",\n        ")
    val sq = rb.map { case (r, b) => s"s_${r}_$b*s_${r}_$b" }.mkString(" + ")
    s"""WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        $sums
      FROM $table WHERE $key IS NOT NULL),
      ex AS (SELECT CAST(SUM(n*n) AS BIGINT) AS f2_exact FROM (
        SELECT COUNT(*) AS n FROM $table WHERE $key IS NOT NULL GROUP BY $key) g)
      SELECT n_rows, f2_exact, CAST($sq AS DOUBLE) / ${rb.size} AS f2_est FROM s, ex"""
  }

  val e75 = Q(
    "e75_ams_skew",
    (s, d) => Cardinality.amsSelfJoinSize(T.lineitem(s, d), "l_orderkey"),
    Some(amsOracle("lineitem", "l_orderkey")))

  // E12 capstone: the auto-salting DECISION INPUTS as a hash-checked
  // row — Skew.measure's one-pass diagnosis (KMV distinct + AMS F2 +
  // null visibility + the two derived signals) restated by the oracle
  // from the e65/e75 arithmetic it composes, so the numbers that pick
  // plain-vs-salted joins are pinned by the gate, not just by specs.
  private def skewStatsOracle(table: String, key: String): String = {
    val rb = Cardinality.AmsEstimators
    val sums = rb.map { case (r, b) =>
      s"SUM(1 - 2 * ((${Cardinality.amsSliceSql(key, r)} >> $b) % 2)) AS s_${r}_$b"
    }.mkString(",\n        ")
    val sq = rb.map { case (r, b) => s"s_${r}_$b*s_${r}_$b" }.mkString(" + ")
    s"""WITH hh AS (SELECT DISTINCT
          ('0x'||substr(md5(CAST($key AS VARCHAR)),1,15))::BIGINT + 1 AS h
        FROM $table WHERE $key IS NOT NULL),
      r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hh),
      kmv AS (SELECT count(*) AS nk, max(h) AS kth FROM r WHERE rn <= 256),
      s AS (SELECT CAST(COUNT(*) AS BIGINT) AS all_rows,
        CAST(COUNT($key) AS BIGINT) AS n,
        $sums
      FROM $table),
      est AS (SELECT all_rows, n,
        CASE WHEN nk < 256 THEN CAST(nk AS DOUBLE)
          ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / CAST(kth AS DOUBLE) END AS d_est,
        CAST($sq AS DOUBLE) / ${rb.size} AS f2_est
      FROM s, kmv)
      SELECT n AS n_rows, all_rows - n AS null_rows, d_est, f2_est,
        f2_est * d_est / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS skew_ratio,
        f2_est / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS hot_mass_lb
      FROM est"""
  }

  val e76 = Q(
    "e76_skew_stats",
    (s, d) => Skew.measureFrame(T.lineitem(s, d), "l_orderkey", k = 256),
    Some(skewStatsOracle("lineitem", "l_orderkey")))

  // E3 quality measurement: recall@k of the IVF index against exact
  // brute-force ground truth ([[Similarity.annRecall]]) — the number an
  // ANN deployment tunes nlist/nprobe by. The oracle composes the SAME
  // IVF CTE chain e14 verifies with the e03-shaped exact arm, so a
  // recall regression in either arm (a probing bug, a cell-assignment
  // drift) breaks the hash, not just a spec threshold. Declared flavor
  // matches e14's geometry (k=5, nlist=16, nprobe=4, 2 Lloyd rounds)
  // over the same 10-query sample.
  val e77 = Q(
    "e77_ann_recall",
    (s, d) => Similarity.annRecall(
      T.embeddings(s, d), T.embeddings(s, d).filter(col("vec_id") < 10),
      k = 5, nlist = 16, nprobe = 4, lloydIters = 2),
    Some(s"""WITH $ivfTopkCtes,
      ivf AS (SELECT qid, vec_id FROM r WHERE rn <= 5),
      tsc AS (SELECT q.vec_id AS qid, v.vec_id,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(v.embedding)+1),
            i -> CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))
            / (q.vn * v.vn) AS cos
        FROM corp v, corp q WHERE q.vec_id < 10 AND v.vec_id <> q.vec_id),
      truth AS (SELECT qid, vec_id FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS trn FROM tsc)
        WHERE trn <= 5)
      SELECT t.qid, CAST(COUNT(*) AS BIGINT) AS n_true,
        CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
        CAST(COUNT(i.vec_id) AS DOUBLE) / COUNT(*) AS recall
      FROM truth t LEFT JOIN ivf i ON i.qid = t.qid AND i.vec_id = t.vec_id
      GROUP BY t.qid ORDER BY t.qid"""))

  // E-suite sampling capstone: PER-ROW weighted sampling without
  // replacement ([[Sampling.prioritySample]], Duffield-Lund-Thorup) —
  // importance-weighted corpus subsampling with the weight = each
  // document's token count, carrying the unbiased Horvitz-Thompson
  // weight beside every kept row. Complements e18/e59, which weight
  // STRATA; this weights ROWS. The oracle replays hash draw, priority
  // arithmetic, threshold and HT weight exactly.
  val e78 = Q(
    "e78_priority_sample",
    (s, d) => {
      val weighted = T.documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"))
      Sampling.prioritySample(weighted, "doc_id", "w", k = 200)
        .orderBy(col("doc_id"))
    },
    Some("""WITH wdoc AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
          ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,6))::BIGINT AS h
        FROM documents),
      pr AS (SELECT doc_id, w,
          (CAST(w AS DOUBLE) * 16777216.0) / CAST(h + 1 AS DOUBLE) AS priority
        FROM wdoc),
      rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rnp FROM pr),
      tau AS (SELECT MIN(CASE WHEN rnp = 201 THEN priority END) AS tau FROM rk WHERE rnp <= 201)
      SELECT doc_id, w, priority,
        CASE WHEN tau IS NULL THEN CAST(w AS DOUBLE)
          ELSE GREATEST(CAST(w AS DOUBLE), tau) END AS est_w
      FROM rk, tau WHERE rnp <= 200 ORDER BY doc_id"""))

  // E-suite skew capstone: TWO-PHASE SALTED AGGREGATION
  // ([[Skew.saltedAgg]] / [[Skew.saltedCountDistinct]]) — the
  // aggregation face of c45's salted join, on the aggregation shapes
  // partial aggregation can't save: the algebraic family through the
  // replay-safe row salt (count / decimal sum / max decomposed and
  // re-merged), and exact COUNT(DISTINCT) through the value-hash salt
  // that caps the distinct expansion's reducer fan-in. The oracle is
  // the PLAIN one-phase GROUP BY — so the hash check proves the salted
  // decomposition is exactly result-identical, which is the entire
  // correctness claim of the rewrite. event_type is the deliberately
  // hot key (a handful of values over the whole events table).
  val e79 = Q(
    "e79_salted_agg",
    (s, d) => {
      import graft.Qh
      val ev = T.events(s, d).select(col("event_type"), col("value"), col("user_id"))
      val base = Skew.saltedAgg(ev, Seq("event_type"), Seq(
        Skew.SaltedAggSpec("n_events", "count", lit(1)),
        Skew.SaltedAggSpec("total_value", "sum", col("value").cast(Qh.Dec)),
        Skew.SaltedAggSpec("max_value", "max", col("value"))), factor = 8)
      val nd = Skew.saltedCountDistinct(ev, Seq("event_type"), "user_id",
        "n_users", factor = 8)
      base.join(nd, Seq("event_type"))
        .select(col("event_type"), col("n_events"),
          col("total_value").cast("double").as("total_value"),
          col("max_value"), col("n_users"))
        .orderBy(col("event_type"))
    },
    Some(s"""SELECT event_type, COUNT(*) AS n_events,
        ${graft.Qh.oSum("value")} AS total_value, MAX(value) AS max_value,
        COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // E-suite layout capstone: the Z-ORDER LAYOUT EFFECT, declared.
  // [[graft.etl.Bucketing.zValue]]/`zCluster` are the engine's z-order
  // operator (c54 declares the per-row VALUE; BucketingSpec asserts
  // per-file spans) — this query declares the layout's pruning surface
  // itself: per-z-bucket min/max extents on BOTH clustered columns,
  // which is literally the parquet footer metadata a multi-column
  // predicate prunes on. 64 buckets = the top 3 interleaved bits of
  // each dimension, so every bucket's extent on each column is ~1/8th
  // of its full span — the property a single-column sort cannot give.
  // The oracle replays the exact c54-pinned bucket arithmetic and all
  // 16 interleave terms, so the hash pins the grid geometry end to end.
  val e80 = Q(
    "e80_zorder_layout",
    (s, d) => {
      val li = T.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
      val row = li.agg(
        min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head() // bounded: 4 longs
      val zv = graft.etl.Bucketing.zValue(Seq(
        (col("l_partkey"), lit(row.getLong(0)), lit(row.getLong(1))),
        (col("l_suppkey"), lit(row.getLong(2)), lit(row.getLong(3)))), bits = 8)
      li.withColumn("zv", zv)
        .groupBy(shiftright(col("zv"), 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH b AS (SELECT MIN(l_partkey) AS mn_p, MAX(l_partkey) AS mx_p,
          MIN(l_suppkey) AS mn_s, MAX(l_suppkey) AS mx_s FROM lineitem),
      bk AS (SELECT l_partkey, l_suppkey,
          CASE WHEN mx_p = mn_p THEN 0 ELSE CAST(LEAST(GREATEST(
            FLOOR((l_partkey - mn_p) * 256.0 / (mx_p - mn_p)), 0), 255) AS BIGINT) END AS bp,
          CASE WHEN mx_s = mn_s THEN 0 ELSE CAST(LEAST(GREATEST(
            FLOOR((l_suppkey - mn_s) * 256.0 / (mx_s - mn_s)), 0), 255) AS BIGINT) END AS bs
        FROM lineitem, b),
      z AS (SELECT l_partkey, l_suppkey,
          CAST(${(0 until 8).flatMap(j => Seq(
            s"(((bp >> $j) & 1) << ${j * 2})",
            s"(((bs >> $j) & 1) << ${j * 2 + 1})")).mkString(" | ")} AS BIGINT) >> 10 AS bucket
        FROM bk)
      SELECT bucket, COUNT(*) AS n,
        MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
        MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk
      FROM z GROUP BY bucket ORDER BY bucket"""))

  // E3 serving pattern: FILTERED vector search — top-k within the
  // query's own attribute slice ([[Similarity.filteredBruteTopK]], the
  // exact pre-filter arm of the selectivity-dispatched
  // [[Similarity.filteredTopK]]). Declared flavor: each of 10 query
  // vectors searches only corpus rows sharing its label (the
  // tenant/category scoping every vector store serves). The oracle is
  // the label-equijoined exact cosine ranking — same fold order as e03,
  // so the hash pins both the filter semantics and the arithmetic.
  val e81 = Q(
    "e81_filtered_ann",
    (s, d) => Similarity.filteredBruteTopK(
      T.embeddings(s, d), T.embeddings(s, d).filter(col("vec_id") < 10),
      k = 5, filterCol = "label"),
    Some("""WITH q AS (SELECT vec_id AS qid, label AS ql, embedding AS qe
          FROM embeddings WHERE vec_id < 10),
      sc AS (SELECT q.qid, e.vec_id, e.label,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(e.embedding)+1),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          / (SQRT(LIST_SUM(LIST_TRANSFORM(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           * SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM embeddings e, q WHERE e.vec_id <> q.qid AND e.label = q.ql),
      r AS (SELECT qid, vec_id, label, cos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM sc)
      SELECT qid, vec_id, label, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""))

  // ETL capstone: CDC MERGE ([[graft.etl.Cdc.applyChanges]]) — row-level
  // upsert+delete apply, the warehouse-load mode the reference's loader
  // family lacks (overwrite/append/upsert_partitions only). The
  // snapshot is the latest first-half state per user; the second half
  // of the month is the changelog, 'error' as the delete op. The hash
  // pins the whole merge contract: latest-change-wins (total order
  // ts+event_id), delete removal, pass-through of untouched keys —
  // while the PLAN never shuffles the snapshot (winner collapse via
  // max_by, anti join + union).
  val e82 = Q(
    "e82_cdc_merge",
    (s, d) => {
      import graft.etl.Cdc
      val ev = T.events(s, d)
      val cut = lit("2024-01-16").cast("timestamp")
      val asState = (df: DataFrame) => df.select(
        col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"), col("ts").as("last_ts"),
        col("event_id"))
      val base = Cdc.latestState(
        asState(ev.filter(col("ts") < cut)).withColumn("op", lit("U")),
        keys = Seq("user_id"), orderCols = Seq("last_ts", "event_id"))
        .drop("event_id")
      val changes = asState(ev.filter(col("ts") >= cut))
        .withColumn("op", when(col("last_type") === "error", "D").otherwise("U"))
      Cdc.applyChanges(base, changes, keys = Seq("user_id"),
        orderCols = Seq("last_ts", "event_id"))
        .orderBy(col("user_id"))
    },
    Some("""WITH
      b0 AS (SELECT user_id, event_type AS last_type, value AS last_value, ts AS last_ts,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-16'),
      base AS (SELECT user_id, last_type, last_value, last_ts FROM b0 WHERE rn = 1),
      w0 AS (SELECT user_id, event_type AS last_type, value AS last_value, ts AS last_ts,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
      win AS (SELECT user_id, last_type, last_value, last_ts, op FROM w0 WHERE rn = 1)
      SELECT user_id, last_type, last_value, last_ts FROM base
      WHERE user_id NOT IN (SELECT user_id FROM win)
      UNION ALL
      SELECT user_id, last_type, last_value, last_ts FROM win WHERE op <> 'D'
      ORDER BY user_id"""))

  // ETL capstone: INCREMENTAL AGGREGATE MAINTENANCE
  // ([[graft.etl.Incremental]]) — the materialized daily aggregate kept
  // current by merging the delta's PARTIALS (count / exact decimal sum /
  // min / max), never rescanning history. The oracle is the full
  // recompute over the whole month, so the hash check IS the
  // incremental-equals-recompute identity (decimal addition is
  // associative — the entire correctness claim of the maintenance path).
  val e83 = Q(
    "e83_incremental_agg",
    (s, d) => {
      import graft.etl.Incremental
      val ev = T.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      val keys = Seq("event_type", "day")
      val existing = Incremental.partials(
        ev.filter(col("day") <= lit("2024-01-20").cast("date")), keys, "value")
      val delta = Incremental.partials(
        ev.filter(col("day") > lit("2024-01-20").cast("date")), keys, "value")
      Incremental.serve(Incremental.merge(keys, existing, delta))
        .orderBy(col("event_type"), col("day"))
    },
    Some(s"""SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt,
        ${graft.Qh.oSum("value")} AS sum_v, ${graft.Qh.oAvg("value")} AS avg_v,
        MIN(value) AS min_v, MAX(value) AS max_v
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  // Serving analytics: per-key daily FORWARD FILL over a generated day
  // spine ([[Analytics.forwardFill]]) — carry-last-observation gap
  // filling (c52 zero-fills a month spine; this is the ignore-nulls
  // running-last semantics). The declared slice filters to ~1% of users
  // so the spine actually has gaps to fill at gate scale.
  val e84 = Q(
    "e84_gap_fill",
    (s, d) => Analytics.forwardFill(
      T.events(s, d).filter(pmod(col("user_id"), lit(97)) === 0))
      .orderBy(col("event_type"), col("day")),
    Some(s"""WITH f AS (SELECT * FROM events WHERE user_id % 97 = 0),
      daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
          ${graft.Qh.oSum("value")} AS cost FROM f GROUP BY 1, 2),
      b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
      sp AS (SELECT event_type, CAST(t.d AS DATE) AS day
        FROM b, UNNEST(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
          INTERVAL 1 DAY)) AS t(d)),
      j AS (SELECT sp.event_type, sp.day, daily.cost FROM sp
        LEFT JOIN daily ON sp.event_type = daily.event_type AND sp.day = daily.day)
      SELECT event_type, day, CAST(cost IS NOT NULL AS INT) AS observed,
        LAST_VALUE(cost IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cost
      FROM j ORDER BY event_type, day"""))

  // Serving analytics: DAILY COST-SPIKE DETECTION
  // ([[Analytics.dailySpikes]]) — the FinOps anomaly surface: days whose
  // cost exceeds the key's own mean daily cost. Exact decimal daily
  // sums; the ratio is one IEEE multiply+divide on exact operands, so
  // the hash pins the full anomaly arithmetic. Threshold 1.0 declares
  // the whole above-mean surface (ratio ordering included).
  val e85 = Q(
    "e85_cost_spikes",
    (s, d) => Analytics.dailySpikes(T.events(s, d), threshold = 1.0)
      .orderBy(col("event_type"), col("day")),
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
          SUM(CAST(value AS DECIMAL(38,6))) AS sum_dec
        FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, CAST(SUM(sum_dec) AS DECIMAL(38,6)) AS total_dec,
          COUNT(*) AS n_days FROM daily GROUP BY 1)
      SELECT daily.event_type, day, CAST(sum_dec AS DOUBLE) AS daily_cost,
        CAST(sum_dec AS DOUBLE) * n_days / CAST(total_dec AS DOUBLE) AS ratio
      FROM daily JOIN st ON daily.event_type = st.event_type
      WHERE CAST(sum_dec AS DOUBLE) * n_days / CAST(total_dec AS DOUBLE) > 1.0
      ORDER BY daily.event_type, day"""))

  // Serving analytics: ORDERED FUNNEL ([[Analytics.funnel]]) —
  // signup → click → purchase, each step strictly after the user's
  // previous-step time. One map-side-combined min per step, user-keyed
  // joins, no per-user collected state (the collect_list funnel dies at
  // 100 TB; this shape is three filtered scans and three aggregates).
  // The declared slice keeps only high-value events (~5%) so the funnel
  // actually attrites at gate scale (127 → 88 → 54 at sf0.01) and the
  // nullable step columns exercise their null paths.
  val e86 = Q(
    "e86_funnel",
    (s, d) => Analytics.funnel(
      T.events(s, d).filter(col("value") > 95),
      Seq("signup", "click", "purchase"))
      .orderBy(col("user_id")),
    Some("""WITH f AS (SELECT * FROM events WHERE value > 95),
      s1 AS (SELECT user_id, MIN(ts) AS step1_ts FROM f
          WHERE event_type = 'signup' GROUP BY 1),
      s2 AS (SELECT e.user_id, MIN(e.ts) AS step2_ts FROM f e
          JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.step1_ts
          WHERE e.event_type = 'click' GROUP BY 1),
      s3 AS (SELECT e.user_id, MIN(e.ts) AS step3_ts FROM f e
          JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.step2_ts
          WHERE e.event_type = 'purchase' GROUP BY 1)
      SELECT s1.user_id, s1.step1_ts, s2.step2_ts, s3.step3_ts,
        CASE WHEN s3.user_id IS NOT NULL THEN 3
             WHEN s2.user_id IS NOT NULL THEN 2 ELSE 1 END AS steps_completed
      FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
      ORDER BY s1.user_id"""))

  // Serving analytics: WEEKLY COHORT RETENTION
  // ([[Analytics.cohortRetention]]) — users bucketed by first-seen ISO
  // week × weeks-since-cohort activity counts. The only event-scale
  // exchange is the (user, week) distinct carrying 16-byte rows.
  // Same ~5% high-value slice as e86 so first-seen weeks spread into
  // multiple cohorts at gate scale (3 cohort weeks at sf0.01) instead of
  // the whole population landing in week one.
  val e87 = Q(
    "e87_cohort_retention",
    (s, d) => Analytics.cohortRetention(
      T.events(s, d).filter(col("value") > 95))
      .orderBy(col("cohort_week"), col("week_offset")),
    Some("""WITH wk AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
          FROM events WHERE value > 95),
      c AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY 1)
      SELECT c.cohort_week, CAST((wk.week - c.cohort_week) // 7 AS INT) AS week_offset,
        COUNT(*) AS users
      FROM wk JOIN c ON wk.user_id = c.user_id
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ETL capstone: SCD TYPE-2 HISTORY ([[graft.etl.Cdc.scd2History]]) —
  // the changelog as validity intervals: one row per version with
  // valid_from/valid_to chained by the key's next change and deletes
  // closing without opening (e82 keeps only latest state; this keeps
  // the audit trail). One window over (key, ts+event_id) — the minimum
  // exchange for interval building. The hash pins the full chaining:
  // every valid_to, the delete gaps, and the is_current frontier.
  val e88 = Q(
    "e88_scd2_history",
    (s, d) => {
      import graft.etl.Cdc
      val log = T.events(s, d).select(
        col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"), col("ts"), col("event_id"))
        .withColumn("op", when(col("last_type") === "error", "D").otherwise("U"))
      Cdc.scd2History(log, keys = Seq("user_id"), orderCols = Seq("ts", "event_id"))
        .select(col("user_id"), col("last_type"), col("last_value"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    },
    Some("""WITH log AS (SELECT user_id, event_type AS last_type, value AS last_value,
          ts, event_id,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        FROM events),
      v AS (SELECT *, LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        FROM log)
      SELECT user_id, last_type, last_value, ts AS valid_from, valid_to,
        CAST(valid_to IS NULL AS INT) AS is_current
      FROM v WHERE op <> 'D' ORDER BY user_id, valid_from"""))

  // Serving analytics: ROLLING Z-SCORE ANOMALIES
  // ([[Analytics.rollingAnomalies]]) — days deviating from their own
  // trailing 7-day window by >1.5σ (e85 compares against the all-time
  // mean; this is the step-change detector). z is restated as
  // (n·x − Σx)/√(n·Σx² − (Σx)²) with every operand EXACT DECIMAL and
  // only two small-magnitude decimal→double casts — squaring the
  // daily total as a double AND casting an exact scale-12 sum to
  // double BOTH diverge between engines at sf1 magnitudes (see the
  // operator's scaladoc for the two failure mechanisms the parity
  // sweep caught); this form is bit-equal on both engines at any
  // scale, and the hash pins the variance/threshold math end to end.
  val e89 = Q(
    "e89_rolling_anomaly",
    (s, d) => Analytics.rollingAnomalies(T.events(s, d))
      .orderBy(col("event_type"), col("day")),
    Some(s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
          SUM(CAST(value AS DECIMAL(38,6))) AS xd FROM events GROUP BY 1, 2),
      win AS (SELECT event_type, day, xd,
          SUM(xd) OVER w AS sxd,
          SUM(CAST(xd AS DECIMAL(19,6)) * CAST(xd AS DECIMAL(19,6))) OVER w AS sxxd,
          COUNT(*) OVER w AS n
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      zed AS (SELECT event_type, day, CAST(xd AS DOUBLE) AS daily_cost, n,
          CAST(CAST(CAST(n AS DECIMAL(3,0)) * CAST(xd AS DECIMAL(16,6)) AS DECIMAL(38,6))
            - sxd AS DECIMAL(38,6)) AS numd,
          FLOOR(ROUND(CAST(n AS DECIMAL(3,0)) * CAST(sxxd AS DECIMAL(34,12)), 6)
            - ROUND(CAST(sxd AS DECIMAL(19,6)) * CAST(sxd AS DECIMAL(19,6)), 6)) AS radd
        FROM win),
      zz AS (SELECT event_type, day, daily_cost, n,
          CASE WHEN radd > 0 THEN CAST(numd AS DOUBLE) / sqrt(CAST(radd AS DOUBLE))
            ELSE 0.0 END AS z
        FROM zed)
      SELECT event_type, day, daily_cost, n, z FROM zz
      WHERE n >= 4 AND abs(z) > 1.5
      ORDER BY event_type, day"""))

  // Catalog/profiling: EQUI-WIDTH HISTOGRAM ([[Analytics.histogram]]) —
  // 20 bins over the global [min, max] of l_extendedprice with per-bin
  // count + exact decimal sum. Bin assignment is elementwise IEEE
  // arithmetic (not width_bucket, whose edge conventions differ across
  // engines), so the hash pins bounds, widths, and edge folding.
  val e90 = Q(
    "e90_histogram",
    (s, d) => Analytics.histogram(T.lineitem(s, d), "l_extendedprice", nBins = 20)
      .orderBy(col("bin")),
    Some(s"""WITH stats AS (SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
          CAST(MAX(l_extendedprice) AS DOUBLE) AS hi FROM lineitem)
      SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 20.0)) AS BIGINT), 19) AS bin,
        COUNT(*) AS n, ${graft.Qh.oSum("l_extendedprice")} AS total
      FROM lineitem CROSS JOIN stats
      GROUP BY bin ORDER BY bin"""))

  // Serving analytics: FIRST/LAST-TOUCH ATTRIBUTION
  // ([[Analytics.attribution]]) — each purchase credited to the user's
  // first and most recent preceding click/view via one user-keyed
  // window with an exclusive frame; organic purchases keep NULL
  // credits. The hash pins the frame exclusivity (a self-crediting
  // touch would flip rows) and the ignore-nulls carry.
  val e91 = Q(
    "e91_attribution",
    (s, d) => Analytics.attribution(T.events(s, d),
        touchTypes = Seq("click", "view"), conversionType = "purchase")
      .orderBy(col("event_id")),
    Some("""WITH ev AS (SELECT event_id, user_id, ts, event_type, value,
          CASE WHEN event_type IN ('click','view') THEN ts END AS touch_ts,
          CASE WHEN event_type IN ('click','view') THEN event_type END AS touch_type
        FROM events),
      a AS (SELECT event_id, user_id, ts, event_type, value,
          FIRST_VALUE(touch_ts IGNORE NULLS) OVER w AS first_touch_ts,
          FIRST_VALUE(touch_type IGNORE NULLS) OVER w AS first_touch_type,
          LAST_VALUE(touch_ts IGNORE NULLS) OVER w AS last_touch_ts,
          LAST_VALUE(touch_type IGNORE NULLS) OVER w AS last_touch_type
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, ts, value, first_touch_ts, first_touch_type,
        last_touch_ts, last_touch_type
      FROM a WHERE event_type = 'purchase' ORDER BY event_id"""))

  // Warehouse governance: DATA-QUALITY AUDIT ([[graft.etl.DataQuality]])
  // — the Deequ/dbt-test expectation report as one declared frame:
  // four row-level checks in ONE scan (null / two ranges / set), the
  // key-uniqueness check (two-phase distinct), and referential
  // integrity into orders (left anti). The range/set thresholds are
  // deliberately tighter than the data so violations are non-zero and
  // the hash pins the counting, not just zeros; (l_orderkey,
  // l_linenumber) genuinely collides in this generator, so the unique
  // check counts real duplicates.
  val e92 = Q(
    "e92_dq_audit",
    (s, d) => {
      import graft.etl.DataQuality._
      val li = T.lineitem(s, d)
      report(Seq(
        rowAudit(li, Seq(
          notNull("l_orderkey"),
          inRange("l_quantity", 1, 45),
          inRange("l_discount", 0, 0.08),
          inSet("l_returnflag", Seq("A", "N", "R")))),
        uniqueAudit(li, Seq("l_orderkey", "l_linenumber")),
        refAudit(li, "l_orderkey", T.orders(s, d), "o_orderkey")))
    },
    Some("""SELECT 'not_null:l_orderkey' AS check_name,
        COUNT(*) FILTER (l_orderkey IS NULL) AS violations, COUNT(*) AS total FROM lineitem
      UNION ALL SELECT 'in_range:l_quantity',
        COUNT(*) FILTER (l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 45)), COUNT(*) FROM lineitem
      UNION ALL SELECT 'in_range:l_discount',
        COUNT(*) FILTER (l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.08)), COUNT(*) FROM lineitem
      UNION ALL SELECT 'in_set:l_returnflag',
        COUNT(*) FILTER (l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R')), COUNT(*) FROM lineitem
      UNION ALL SELECT 'unique:l_orderkey,l_linenumber',
        COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)), COUNT(*) FROM lineitem
      UNION ALL SELECT 'ref:l_orderkey->o_orderkey',
        (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL), COUNT(*) FROM lineitem
      ORDER BY check_name"""))

  // ETL capstone: INCREMENTAL JOIN-VIEW MAINTENANCE
  // ([[graft.etl.Incremental.joinDelta]]) — the join complement of
  // e83's aggregate maintenance: a materialized orders⋈lineitem view
  // kept current under append-only deltas via the IVM delta algebra
  // ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB (big sides scanned once against
  // broadcast deltas, the view itself never rescanned). The 1999-01-01
  // cut splits BOTH inputs non-trivially — an old order's late
  // shipment, a new order's early-scanned lineitem, and the
  // delta×delta leg all carry rows — and the oracle is the FULL
  // RECOMPUTE over the grown inputs, so the hash check IS the
  // maintained-equals-recomputed identity (a dropped or double-counted
  // leg breaks counts and sums). Read side aggregates per order for a
  // total output order.
  val e93 = Q(
    "e93_incremental_join",
    (s, d) => {
      import graft.etl.Incremental
      val cut = lit("1999-01-01").cast("timestamp")
      val a = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val b = T.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
        col("l_extendedprice"), col("l_shipdate"))
      val aOld = a.filter(col("o_orderdate") < cut)
      val aNew = a.filter(col("o_orderdate") >= cut)
      val bOld = b.filter(col("l_shipdate") < cut)
      val bNew = b.filter(col("l_shipdate") >= cut)
      val view = aOld.join(bOld, Seq("o_orderkey")) // materialized bootstrap
      view.unionByName(
          Incremental.joinDelta(aOld, aNew, bOld, bNew, Seq("o_orderkey")))
        .groupBy(col("o_orderkey"), col("o_custkey"))
        .agg(count(lit(1)).as("n_items"),
          graft.Qh.dsum(col("l_extendedprice")).as("total"))
        .orderBy(col("o_orderkey"))
    },
    Some(s"""SELECT o_orderkey, o_custkey, COUNT(*) AS n_items,
        ${graft.Qh.oSum("l_extendedprice")} AS total
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o_orderkey, o_custkey ORDER BY o_orderkey"""))

  // Warehouse governance: RIGHT-TO-BE-FORGOTTEN CASCADE
  // ([[graft.etl.Privacy.forget]]/[[graft.etl.Privacy.forgetAudit]]) —
  // a deterministic ~2% subject slice is purged from the events table
  // and the deletion PROPAGATES to the daily serving aggregate, with
  // the per-day audit trail (kept vs purged counts) a deletion request
  // legally requires. Both legs join the fact scan against a BROADCAST
  // distinct subject list — the fact table never shuffles for the
  // purge. The oracle restates purge + audit with NOT IN/IN, so the
  // hash pins membership, propagation, and the audit counts together.
  val e94 = Q(
    "e94_cascade_delete",
    (s, d) => {
      import graft.etl.Privacy
      val ev = T.events(s, d)
      val subjects = ev.select(col("user_id")).filter(pmod(col("user_id"), lit(41)) === 0)
      val daily = Privacy.forget(ev, subjects, "user_id")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(graft.Qh.dsum(col("value")).as("total_after"), count(lit(1)).as("n_after"))
      val audit = Privacy.forgetAudit(ev, subjects, "user_id", to_date(col("ts")))
      daily.join(audit, col("day") === col("bucket"))
        .select(col("day"), col("total_after"), col("n_after"), col("n_purged"))
        .orderBy(col("day"))
    },
    Some(s"""WITH subj AS (SELECT DISTINCT user_id FROM events WHERE user_id % 41 = 0),
      a AS (SELECT CAST(ts AS DATE) AS day, ${graft.Qh.oSum("value")} AS total_after,
          COUNT(*) AS n_after
        FROM events WHERE user_id NOT IN (SELECT user_id FROM subj) GROUP BY 1),
      p AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_purged
        FROM events WHERE user_id IN (SELECT user_id FROM subj) GROUP BY 1)
      SELECT a.day, total_after, n_after, COALESCE(n_purged, 0) AS n_purged
      FROM a LEFT JOIN p ON a.day = p.day ORDER BY a.day"""))

  // Warehouse governance: DETERMINISTIC COLUMN MASKING
  // ([[graft.etl.Privacy.pseudonymize]]/[[graft.etl.Privacy.generalize]])
  // — the masking-policy projection a serving layer applies before
  // exposing user-keyed data: salted SHA-256 pseudonyms (same salt →
  // same token, so masked columns still join/group across tables) and
  // k-anonymity-style numeric generalization into fixed bands. Pure
  // map-only projection — no exchange at any size; the hash pins the
  // exact token bytes and band arithmetic on both engines.
  val e95 = Q(
    "e95_masking",
    (s, d) => {
      import graft.etl.Privacy
      T.customer(s, d).select(
        col("c_custkey"),
        Privacy.pseudonymize(col("c_name"), "graft").as("name_token"),
        Privacy.generalize(col("c_acctbal"), 1000.0).as("acctbal_band"),
        col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
        CASE WHEN c_name IS NULL THEN NULL
          ELSE sha256('graft' || '|' || c_name) END AS name_token,
        FLOOR(c_acctbal / 1000.0) * 1000.0 AS acctbal_band,
        c_mktsegment
      FROM customer ORDER BY c_custkey"""))

  // Catalyst capstone: TRANSPARENT MV REWRITE
  // ([[graft.plans.MaterializedView]]/[[graft.plans.RewriteToMv]]) —
  // the serving half of incremental view maintenance: e83 keeps the
  // partials table current, this optimizer rule makes an UNCHANGED
  // aggregate over the BASE table answer from it. The declared query
  // maintains an (event_type, user_id)-keyed MV, then runs the plain
  // per-type rollup against the raw events scan under
  // `serveWith` — the rule rewrites count/decimal-sum/min/max onto
  // sum(cnt)/sum(sum_v)/min/max over the MV (a coarser grouping:
  // partials are mergeable, so the rollup is exact), and the query
  // REFUSES to return if the executed plan still scans the base (the
  // rewrite actually firing is part of the declared semantics). The
  // oracle is the full recompute over raw events — the hash IS the
  // MV-serving-equals-recompute identity. At 100 TB this is the
  // difference between reading |keys| partial rows and rescanning
  // history for every dashboard refresh.
  val e96 = Q(
    "e96_mv_rewrite",
    (s, d) => {
      import graft.etl.Incremental
      import graft.plans.MaterializedView
      import graft.plans.MaterializedView.MvDef
      val basePath = s"$d/events.parquet"
      val mvDir = tempQueryDir("graft_e96_mv")
      Incremental.partials(
          s.read.parquet(basePath), Seq("event_type", "user_id"), "value")
        .write.mode("overwrite").parquet(mvDir)
      MaterializedView.servePinned(s,
        Seq(MvDef(basePath, s.read.parquet(mvDir), Seq("event_type", "user_id"), "value"))) {
        val served = s.read.parquet(basePath)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(graft.Qh.Dec)).cast("double").as("total"),
            min(col("value")).as("min_v"),
            max(col("value")).as("max_v"))
          .orderBy(col("event_type"))
        val plan = served.queryExecution.executedPlan.toString
        require(plan.contains(new java.io.File(mvDir).getName) &&
          !plan.contains("events.parquet"),
          s"e96: the MV rewrite must serve this query from the partials table:\n$plan")
        served
      }
    },
    Some(s"""SELECT event_type, COUNT(*) AS cnt, ${graft.Qh.oSum("value")} AS total,
        MIN(value) AS min_v, MAX(value) AS max_v
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // IVM lifecycle capstone: STREAM-MAINTAINED MV, REWRITE-SERVED —
  // e83's partials maintenance driven by a FILE STREAM (three
  // deterministic micro-batches merging into a batch-id-versioned
  // parquet state — replay overwrites the same version, the e49
  // idempotence discipline), then the plain per-type rollup over the
  // RAW base scan served from that stream-maintained state by the e96
  // optimizer rule (the query self-asserts the rewrite fired). The
  // oracle is the one-shot batch recompute over all events, so the
  // hash proves stream-of-merges ∘ MV-rewrite ≡ batch semantics end
  // to end: the cron-replacement geometry for serving aggregates that
  // never rescan history — per micro-batch work is O(|delta| +
  // |touched keys|), the serve is O(|keys|).
  val e97 = Q(
    "e97_streaming_mv",
    (outer, d) => {
      import graft.etl.Incremental
      import graft.plans.MaterializedView
      import graft.plans.MaterializedView.MvDef
      import org.apache.spark.sql.streaming.Trigger
      val s = graft.streaming.StateBackend.isolatedStreamSession(outer)
      val basePath = s"$d/events.parquet"
      val keys = Seq("event_type", "user_id")
      def slim(df: org.apache.spark.sql.DataFrame) =
        df.select(col("event_type"), col("user_id"), col("value"), col("event_id"))
      val ev = slim(s.read.parquet(basePath))
      // v0: bootstrap = partials over the first half; the second half
      // arrives as three micro-batches staged in ONE pass over the
      // events scan ([[stageSliceDirs]] — the per-slice loop scanned it
      // three times). Bootstrap and staging are independent actions —
      // overlap them (guide §2.6).
      val stateRoot = tempQueryDir("graft_e97_state")
      val staging = tempQueryDir("graft_e97_in")
      val fs = new org.apache.hadoop.fs.Path(staging)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      ConcurrentActions.inParallel(
        () => Incremental.partials(
            ev.filter(pmod(col("event_id"), lit(2)) === 0), keys, "value")
          .write.mode("overwrite").parquet(s"$stateRoot/v0"),
        () => stageSliceDirs(ev.filter(pmod(col("event_id"), lit(2)) === 1),
          pmod(col("event_id"), lit(3)), staging))
      val sch = s.read.parquet(s"$staging/slice0").schema
      val src = s.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(s"$staging/slice*")
      val ckpt = tempQueryDir("graft_e97_ck")
      val q = src.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          Incremental.merge(keys,
            batch.sparkSession.read.parquet(s"$stateRoot/v$id"),
            Incremental.partials(batch, keys, "value"))
            .write.mode("overwrite").parquet(s"$stateRoot/v${id + 1}")
        }
        .start()
      q.awaitTermination()
      val vmax = fs.listStatus(new org.apache.hadoop.fs.Path(stateRoot))
        .map(_.getPath.getName).filter(_.startsWith("v")).map(_.drop(1).toInt).max
      MaterializedView.servePinned(s,
        Seq(MvDef(basePath, s.read.parquet(s"$stateRoot/v$vmax"), keys, "value"))) {
        val served = s.read.parquet(basePath)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(graft.Qh.Dec)).cast("double").as("total"),
            min(col("value")).as("min_v"),
            max(col("value")).as("max_v"))
          .orderBy(col("event_type"))
        val plan = served.queryExecution.executedPlan.toString
        require(plan.contains(s"v$vmax") && !plan.contains("events.parquet"),
          s"e97: the rollup must serve from the stream-maintained MV:\n$plan")
        served
      }
    },
    Some(s"""SELECT event_type, COUNT(*) AS cnt, ${graft.Qh.oSum("value")} AS total,
        MIN(value) AS min_v, MAX(value) AS max_v
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // Serving capstone: FILTER-AWARE MV REWRITE — the reference's
  // flagship dashboard query shape (`README.md:125-130`: cost by
  // service over a date window — `WHERE key-filter … GROUP BY key`)
  // answered from the maintained partials table by the e96 optimizer
  // rule. Key-only filters are exact on partials (every row of a
  // group shares its key values, so group-level filtering ≡ row-level
  // filtering); the rule re-roots the scan's Filter onto the MV and
  // the query REFUSES to return if the executed plan still reads the
  // base. The oracle is the full recompute over raw events under the
  // same predicate — the hash IS the filtered-serve-equals-recompute
  // identity. At 100 TB: the dashboard's date-windowed refresh reads
  // |touched keys| partial rows instead of rescanning history.
  val e98 = Q(
    "e98_mv_filtered_rewrite",
    (s, d) => {
      import graft.etl.Incremental
      import graft.plans.MaterializedView
      import graft.plans.MaterializedView.MvDef
      val basePath = s"$d/events.parquet"
      val mvDir = tempQueryDir("graft_e98_mv")
      Incremental.partials(
          s.read.parquet(basePath), Seq("event_type", "user_id"), "value")
        .write.mode("overwrite").parquet(mvDir)
      MaterializedView.servePinned(s,
        Seq(MvDef(basePath, s.read.parquet(mvDir), Seq("event_type", "user_id"), "value"))) {
        val served = s.read.parquet(basePath)
          .filter(col("user_id") >= 100 && col("user_id") < 600)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(graft.Qh.Dec)).cast("double").as("total"),
            min(col("value")).as("min_v"),
            max(col("value")).as("max_v"))
          .orderBy(col("event_type"))
        val plan = served.queryExecution.executedPlan.toString
        require(plan.contains(new java.io.File(mvDir).getName) &&
          !plan.contains("events.parquet"),
          s"e98: the key-filtered aggregate must serve from the partials table:\n$plan")
        served
      }
    },
    Some(s"""SELECT event_type, COUNT(*) AS cnt, ${graft.Qh.oSum("value")} AS total,
        MIN(value) AS min_v, MAX(value) AS max_v
      FROM events WHERE user_id >= 100 AND user_id < 600
      GROUP BY event_type ORDER BY event_type"""))

  // Tokenizer round trip: BPE DECODE ([[TextOps.bpeDecode]]) — the
  // detokenization half of the e48/e50 tokenizer: encode the corpus
  // with a freshly fitted model, decode the id arrays back, and emit
  // the reconstructed text. The oracle computes the normalized
  // character stream DIRECTLY from the raw text (pre-tokenizer classes
  // concatenated), so the hash match proves the whole
  // fit→encode→decode chain is LOSSLESS — every merge, symbol id, and
  // position survives the round trip. Decode's plan mirrors encode's:
  // map-only explode + broadcast symbol join + one reassembly
  // exchange; at 100 TB detokenization streams like tokenization.
  val e99 = Q(
    "e99_bpe_decode_roundtrip",
    (s, d) => {
      val docs = T.documents(s, d)
      val model = TextOps.bpeFit(docs, "text", rounds = 6)
      val enc = TextOps.bpeEncode(docs, "doc_id", "text", model)
      TextOps.bpeDecode(enc, Seq("doc_id"), "token_ids", model)
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        array_to_string(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'), '') AS text_rt
      FROM documents
      WHERE len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) > 0
      ORDER BY doc_id"""))

  // Warehouse mutation: SNAPSHOT DIFF ([[graft.etl.Cdc.snapshotDiff]])
  // — the inverse of e82's CDC apply, closing the loop: two keyed
  // states of an orders-derived table (deterministic membership and
  // price deltas carve out genuine I, U, and D populations plus an
  // unchanged majority) diff into the exact change feed, I/U carrying
  // the after-image and D the before-image. The oracle restates the
  // diff as a FULL OUTER JOIN with CASE classification, so the hash
  // pins membership, op labels, and image selection together. Scale
  // shape: ONE key-partitioned full-outer join — both snapshots
  // exchange once (co-location is inherent to diffing), values compare
  // as a single struct, only changed rows survive. CdcSpec pins the
  // round-trip identity (feed applied to before == after).
  val e100 = Q(
    "e100_snapshot_diff",
    (s, d) => {
      val o = T.orders(s, d)
      val before = o.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice").as("price"))
      val after = o.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).as("price"))
      graft.etl.Cdc.snapshotDiff(before, after, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice AS price
        FROM orders WHERE o_orderkey % 5 <> 0),
      a AS (SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT CASE WHEN b.o_orderkey IS NULL THEN 'I'
                  WHEN a.o_orderkey IS NULL THEN 'D'
                  ELSE 'U' END AS op,
        COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        CASE WHEN a.o_orderkey IS NULL THEN b.o_custkey ELSE a.o_custkey END AS o_custkey,
        CASE WHEN a.o_orderkey IS NULL THEN b.price ELSE a.price END AS price
      FROM b FULL OUTER JOIN a ON a.o_orderkey = b.o_orderkey
      WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
         OR a.o_custkey <> b.o_custkey OR a.price <> b.price
      ORDER BY o_orderkey"""))

  // Warehouse governance: DISTRIBUTION-DRIFT AUDIT (PSI —
  // [[graft.etl.DataQuality.psiDrift]]) — the population-stability
  // check a pipeline runs between segments/snapshots before trusting
  // new data: view-event values vs purchase-event values binned into
  // 20 equal buckets, Laplace-smoothed shares, per-bucket
  // (p−q)·ln(p/q) in floor-quantized MICRO units (the e60 integer
  // convention that hides last-ulp ln() divergence between engines —
  // the hash pins binning, clamping, smoothing, and the quantized
  // drift arithmetic together). Scale shape: one scan per side
  // collapsing map-side to ≤20 rows; row-wise nothing ever shuffles.
  val e101 = Q(
    "e101_psi_drift",
    (s, d) => {
      val ev = T.events(s, d)
      graft.etl.DataQuality.psiDrift(
          ev.filter(col("event_type") === "view").select(col("value")),
          ev.filter(col("event_type") === "purchase").select(col("value")),
          "value", bins = 20, lo = 0.0, hi = 500.0)
        .orderBy(col("bin"))
    },
    Some("""WITH b AS (SELECT LEAST(19, GREATEST(0, CAST(FLOOR((value - 0.0) / 25.0) AS INT))) AS bin,
          COUNT(*) AS n_before
        FROM events WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1),
      a AS (SELECT LEAST(19, GREATEST(0, CAST(FLOOR((value - 0.0) / 25.0) AS INT))) AS bin,
          COUNT(*) AS n_after
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1),
      j AS (SELECT COALESCE(b.bin, a.bin) AS bin,
          COALESCE(n_before, 0) AS n_before, COALESCE(n_after, 0) AS n_after
        FROM b FULL OUTER JOIN a ON a.bin = b.bin),
      t AS (SELECT SUM(n_before) AS tb, SUM(n_after) AS ta FROM j),
      s AS (SELECT bin, n_before, n_after,
          (n_before + 1.0) / (tb + 20.0) AS p, (n_after + 1.0) / (ta + 20.0) AS q
        FROM j, t)
      SELECT bin, CAST(n_before AS BIGINT) AS n_before, CAST(n_after AS BIGINT) AS n_after,
        CAST(FLOOR(((p - q) * LN(p / q)) * 1000000.0) AS BIGINT) AS psi_contrib_micro
      FROM s ORDER BY bin"""))

  // Embedding governance: CENTROID DRIFT ([[Similarity.centroidDrift]])
  // — the vector companion of e101's PSI: label-0 vs label-1 embedding
  // populations compared per component (which directions of the space
  // moved), means computed the order-independent, engine-exact way
  // (per-component values floor-quantized to integer NANOS — below
  // float32's own resolution — and summed exactly; a high-scale
  // decimal cast would pick up sub-1e-12 engine rounding differences)
  // so the derived doubles hash bit-identically across engines, with
  // the shift floor-quantized to micro units.
  // Scale shape: posexplode fans vectors into (component, value) pairs
  // that partially aggregate map-side to ≤64 rows per task before one
  // dim-sized exchange; the join/arithmetic touch ≤64 rows.
  val e102 = Q(
    "e102_embedding_centroid_drift",
    (s, d) => {
      val em = T.embeddings(s, d)
      Similarity.centroidDrift(
          em.filter(col("label") === 0).select(col("embedding")),
          em.filter(col("label") === 1).select(col("embedding")),
          "embedding")
        .orderBy(col("i"))
    },
    Some("""WITH b AS (SELECT CAST(t.i - 1 AS INT) AS i,
          CAST(SUM(CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1000000000.0) AS BIGINT)) AS DOUBLE)
            / COUNT(*) / 1000000000.0 AS mean_before
        FROM embeddings, UNNEST(range(1, LEN(embedding)+1)) AS t(i)
        WHERE label = 0 AND embedding IS NOT NULL GROUP BY 1),
      a AS (SELECT CAST(t.i - 1 AS INT) AS i,
          CAST(SUM(CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1000000000.0) AS BIGINT)) AS DOUBLE)
            / COUNT(*) / 1000000000.0 AS mean_after
        FROM embeddings, UNNEST(range(1, LEN(embedding)+1)) AS t(i)
        WHERE label = 1 AND embedding IS NOT NULL GROUP BY 1)
      SELECT b.i AS i, mean_before, mean_after,
        CAST(FLOOR(ABS(mean_before - mean_after) * 1000000.0) AS BIGINT) AS shift_micro
      FROM b JOIN a ON a.i = b.i ORDER BY b.i"""))

  // IVM under mutation: RETRACTABLE PARTIALS maintained by a
  // FULL-IMAGE change feed ([[graft.etl.Incremental.applyFeed]] over
  // [[graft.etl.Cdc.snapshotDiffFull]]) — the aggregate-maintenance
  // capability e83's append-only merge can't give: deletes retract,
  // inserts add, and updates that MOVE a row between groups subtract
  // from the old group and add to the new (the grouping band here is
  // DERIVED FROM THE MUTATED VALUE, so the e100 price bumps genuinely
  // relocate rows across bands). The declared result is
  // apply(partials(before), diff(before, after)) and the oracle is the
  // straight recompute over the after-snapshot — the hash IS the
  // maintained-equals-recomputed identity under I/U/D. At 100 TB:
  // aggregate refresh costs O(|diff| + |touched groups|), never a
  // rescan, even when sources mutate in place.
  // Float portability: the maintained value is pre-quantized to
  // integer MICROS (floor(price*1e6) BIGINT) — the mutated price
  // (+10.0) is an arithmetic-derived double, and casting such doubles
  // to DECIMAL(38,6) rounds differently across engines/DuckDB versions
  // at the 6th fractional digit (the r16 e103 red row; same class as
  // e102's first attempt). floor() of an identical IEEE double is
  // bit-deterministic everywhere, and the decimal sum of integers is
  // exact, so the served sum is restated as BIGINT micros on both
  // sides.
  val e103 = Q(
    "e103_retractable_partials",
    (s, d) => {
      import graft.etl.{Cdc, Incremental}
      val o = T.orders(s, d)
      def snap(df: org.apache.spark.sql.DataFrame) = df.select(
        col("o_orderkey"),
        floor(col("price") / 50000.0).cast("long").as("band"),
        floor(col("price") * 1000000.0).cast("long").as("price_micro"))
      val before = snap(o.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
        .select(col("o_orderkey"), col("o_totalprice").as("price")))
      val after = snap(o.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).as("price")))
      val feed = Cdc.snapshotDiffFull(before, after, Seq("o_orderkey"))
      Incremental.applyFeed(
          Incremental.retractablePartials(before, Seq("band"), "price_micro"),
          feed, Seq("band"), "price_micro")
        .select(col("band"), col("cnt"),
          col("sum_v").cast("long").as("sum_micro"))
        .orderBy(col("band"))
    },
    Some("""WITH a AS (SELECT o_orderkey,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT CAST(FLOOR(price / 50000.0) AS BIGINT) AS band,
        COUNT(*) AS cnt,
        CAST(SUM(CAST(FLOOR(price * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_micro
      FROM a GROUP BY 1 ORDER BY 1"""))

  // MUTATION→IVM→SERVING capstone: the complete loop the round-16
  // pieces compose into — a table MUTATES in place (the e100/e103
  // orders carving: inserts, deletes, value updates), the change feed
  // derives from the snapshot pair (snapshotDiffFull), the retractable
  // partials MAINTAIN through it (applyFeed — never rescanning the
  // before-state), and the maintained MV transparently SERVES a
  // key-filtered dashboard aggregate against the AFTER base scan via
  // the Catalyst rewrite (count/sum rewrite against the cnt/sum-only
  // MV; the query self-asserts the rewrite fired). The oracle is the
  // straight recompute over the after-snapshot under the same filter —
  // one hash pins feed derivation, retractable maintenance, AND
  // rewrite-serving end to end. At 100 TB: a mutating source keeps its
  // dashboards fresh for O(|diff|) per cycle with serving reads of
  // |touched groups| rows.
  // Float portability: like e103, the maintained/served value is
  // pre-quantized to integer micros — the +10.0-mutated price is an
  // arithmetic-derived double whose DECIMAL(38,6) cast is not
  // guaranteed stable across DuckDB versions; floor(price*1e6) BIGINT
  // is. The served sum still goes through the MV rewrite's
  // sum(cast(v as DECIMAL(38,6))) mergeable form — decimal sums of
  // integers are exact — and is emitted as BIGINT micros.
  val e104 = Q(
    "e104_mutation_ivm_serve",
    (s, d) => {
      import graft.etl.{Cdc, Incremental}
      import graft.plans.MaterializedView
      import graft.plans.MaterializedView.MvDef
      val o = T.orders(s, d)
      def snap(df: org.apache.spark.sql.DataFrame) = df.select(
        col("o_orderkey"),
        floor(col("price") / 50000.0).cast("long").as("band"),
        floor(col("price") * 1000000.0).cast("long").as("price_micro"))
      val before = snap(o.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
        .select(col("o_orderkey"), col("o_totalprice").as("price")))
      val after = snap(o.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).as("price")))
      // the mutated table as it exists on disk after the cycle
      val basePath = tempQueryDir("graft_e104_base") + "/orders_after"
      after.write.mode("overwrite").parquet(basePath)
      // maintenance: feed from the snapshot pair, applied to the
      // before-partials — the before state is never rescanned
      val mvDir = tempQueryDir("graft_e104_mv")
      Incremental.applyFeed(
          Incremental.retractablePartials(before, Seq("band"), "price_micro"),
          Cdc.snapshotDiffFull(before, after, Seq("o_orderkey")),
          Seq("band"), "price_micro")
        .write.mode("overwrite").parquet(mvDir)
      MaterializedView.servePinned(s,
        Seq(MvDef(basePath, s.read.parquet(mvDir), Seq("band"), "price_micro"))) {
        val served = s.read.parquet(basePath)
          .filter(col("band") >= 2 && col("band") <= 6)
          .groupBy(col("band"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("price_micro").cast(graft.Qh.Dec)).cast("long").as("total_micro"))
          .orderBy(col("band"))
        val plan = served.queryExecution.executedPlan.toString
        require(plan.contains(new java.io.File(mvDir).getName) &&
          !plan.contains("orders_after"),
          s"e104: the dashboard must serve from the feed-maintained MV:\n$plan")
        served
      }
    },
    Some("""WITH a AS (SELECT
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT CAST(FLOOR(price / 50000.0) AS BIGINT) AS band,
        COUNT(*) AS cnt,
        CAST(SUM(CAST(FLOOR(price * 1000000.0) AS BIGINT)) AS BIGINT) AS total_micro
      FROM a
      WHERE CAST(FLOOR(price / 50000.0) AS BIGINT) BETWEEN 2 AND 6
      GROUP BY 1 ORDER BY 1"""))

  // IVM under mutation, JOIN flavor ([[graft.etl.Incremental
  // .applyJoinFeed]]): a materialized orders ⋈ customer view maintained
  // through the same I/U/D carving as e103 — PLUS a join-key-moving
  // update (every 11th order is reassigned to the next customer), the
  // case append-only joinDelta (e93) cannot express: the old match rows
  // leave the view, the new image re-joins under its new key (possibly
  // to nobody — custkey+1 may not exist, and the row correctly drops).
  // Declared result = applyJoinFeed(before-view, diff, customer); the
  // oracle recomputes after ⋈ customer from scratch — the hash IS the
  // maintained-equals-recomputed identity for join views under
  // mutation. At 100 TB: the view is touched only by a broadcast anti
  // join and customer only by a broadcast inner join (spec-asserted) —
  // one streamed scan of each big side per maintenance cycle, zero
  // exchanges on them, never a rescan of orders. Prices ride as integer
  // micros (the e103 float-portability rule).
  val e105 = Q(
    "e105_join_view_maintenance",
    (s, d) => {
      import graft.etl.{Cdc, Incremental}
      val o = T.orders(s, d)
      val b = T.customer(s, d).select(
        col("c_custkey").as("o_custkey"),
        col("c_nationkey").cast("long").as("c_nationkey"))
      def snap(df: org.apache.spark.sql.DataFrame) = df.select(
        col("o_orderkey"),
        col("o_custkey"),
        floor(col("price") * 1000000.0).cast("long").as("price_micro"))
      val before = snap(o.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price")))
      val after = snap(o.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(11)) === 0, col("o_custkey") + 1L)
            .otherwise(col("o_custkey")).as("o_custkey"),
          when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).as("price")))
      val view = before.join(b, Seq("o_custkey"))
      val feed = Cdc.snapshotDiffFull(before, after, Seq("o_orderkey"))
      Incremental.applyJoinFeed(view, feed, b, Seq("o_custkey"), Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("c_nationkey"), col("price_micro"))
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH a AS (SELECT o_orderkey,
          CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT a.o_orderkey, a.o_custkey,
        CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
        CAST(FLOOR(price * 1000000.0) AS BIGINT) AS price_micro
      FROM a JOIN customer c ON c.c_custkey = a.o_custkey
      ORDER BY a.o_orderkey"""))

  // RIGHT-TO-BE-FORGOTTEN in the ANN index ([[graft.ext.Similarity
  // .forgetFromIndex]]): the vector-index half of the warehouse purge
  // (Privacy.forgetInWarehouse) — a retrieval corpus must forget too.
  // The declared query builds the e47 index, tombstones every 97th
  // vector (one atomic ledger PUT, zero codes IO at forget time), then
  // COMPACTS (the physical purge) and VACUUMS (reclaims the
  // pre-compaction codes AND the folded tombstone generation) before
  // serving — so the hash pins the full forget lifecycle: the served
  // top-k equals the e37/e47 serve arithmetic with the forgotten
  // vectors excluded from the scored corpus, model geometry unchanged
  // (centroids/codebooks are corpus aggregates, not per-row data — no
  // retrain on forget). At 100 TB: forget = O(|ids|), purge cost rides
  // the next scheduled compaction, and serving stays cell-pruned.
  val e106 = Q(
    "e106_ann_index_forget",
    (s, d) => {
      val dir = tempQueryDir("graft_e106_idx")
      Similarity.buildIndex(T.embeddings(s, d), dir,
        nlist = 64, m = 16, ksub = 64, pqIters = 2)
      Similarity.forgetFromIndex(s, dir,
        T.embeddings(s, d).filter(pmod(col("vec_id"), lit(97)) === 3)
          .select(col("vec_id")))
      Similarity.compactIndex(s, dir)
      Similarity.vacuumIndex(s, dir)
      Similarity.queryIndex(Similarity.loadIndex(s, dir),
        T.embeddings(s, d).filter(col("vec_id") < 10), k = 5, nprobe = 8)
    },
    Some(ivfPqServeOracle("embeddings",
      excludeScored = "AND a.vec_id % 97 <> 3")))

  // DISTRIBUTED LINEAR ALGEBRA REDUCE ([[Pca.moments]]): the exact
  // integer first/second-moment table of the embedding corpus — the
  // front half of PCA/whitening. One corpus scan through a mergeable
  // Aggregator whose state is 2,145 longs (d=64) regardless of rows;
  // components ride as integer micros so the reduce is exact and
  // partitioning-independent (the e103 float-portability rule applied
  // to linear algebra). The 2,080-row output is driver-assembled from
  // that bounded buffer — nothing row-scaled is ever collected.
  /** Upper-triangular moment table from a bounded driver buffer —
    * 2,080 rows for d=64 regardless of corpus size (now canonical at
    * [[Pca.momentTable]]; kept as the queries' local name). */
  private def momentTable(s: org.apache.spark.sql.SparkSession,
      mo: Pca.Moments): DataFrame = Pca.momentTable(s, mo)

  val e107 = Q(
    "e107_embedding_gram",
    (s, d) => momentTable(s, Pca.moments(T.embeddings(s, d), "embedding", 64)),
    Some("""WITH q AS (SELECT LIST_TRANSFORM(embedding,
          x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv FROM embeddings),
      s AS (SELECT i.i AS i, SUM(q.qv[i.i + 1]) AS s FROM q, range(0, 64) i(i) GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM q),
      g AS (SELECT a.i AS i, b.j AS j, SUM(q.qv[a.i + 1] * q.qv[b.j + 1]) AS g
            FROM q, range(0, 64) a(i), range(0, 64) b(j) WHERE a.i <= b.j GROUP BY 1, 2)
      SELECT g.i, g.j, CAST(g.g AS BIGINT) AS sum_qq,
        CAST(si.s AS BIGINT) AS sum_qi, CAST(sj.s AS BIGINT) AS sum_qj,
        CAST(n.n AS BIGINT) AS n
      FROM g JOIN s si ON si.i = g.i JOIN s sj ON sj.i = g.j CROSS JOIN n
      ORDER BY g.i, g.j"""))

  // DISTRIBUTED PCA PROJECTION ([[Pca.fit]]/[[Pca.project]]): top-2
  // principal scores per embedding — exact-moment scan (e107's reduce),
  // bounded 64×64 driver eigensolve (fixed 60-step power iteration with
  // deflation, every double op in pinned order), then an embarrassingly
  // parallel projection whose sequential `aggregate` fold matches DuckDB
  // LIST_SUM bit-for-bit (the DotProductF32 parity contract). The oracle
  // restates the full recurrence as a recursive CTE over LIST<DOUBLE> —
  // an independent bit-exact replay of the eigensolve, not a copy of its
  // outputs. At 100 TB: one scan + one constant-size state merge + one
  // map-only projection pass; no shuffle ever carries a vector.
  val e108 = Q(
    "e108_pca_project",
    (s, d) => {
      val emb = T.embeddings(s, d)
      val model = Pca.fit(emb, "embedding", 64)
      Pca.project(emb, "embedding", model)
        .select(col("vec_id"), col("pc1_q"), col("pc2_q"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH RECURSIVE ${pcaProjectCtes()}
      SELECT vec_id, pc1_q, pc2_q FROM proj ORDER BY vec_id"""))

  /** The full PCA recompute (exact micro moments → 60-step power
    * iteration ×2 via recursive CTE → per-row projection) as a reusable
    * WITH-body ending in `proj(vec_id, pc1_q, pc2_q)` — e108 pins it
    * directly; the eval oracles (e116/e117) rank over it. */
  private def pcaProjectCtes(): String = """
      q AS MATERIALIZED (SELECT vec_id, LIST_TRANSFORM(embedding,
        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv FROM embeddings),
      nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM q),
      sums AS MATERIALIZED (SELECT i.i AS i, SUM(q.qv[i.i + 1]) AS s
        FROM q, range(0, 64) i(i) GROUP BY 1),
      mean AS MATERIALIZED (SELECT LIST(CAST(s AS DOUBLE) / nd ORDER BY i) AS m
        FROM sums, nn GROUP BY nd),
      gr AS MATERIALIZED (SELECT a.i AS i, b.j AS j, SUM(q.qv[a.i + 1] * q.qv[b.j + 1]) AS g
        FROM q, range(0, 64) a(i), range(0, 64) b(j) GROUP BY 1, 2),
      mat AS MATERIALIZED (SELECT LIST(row ORDER BY i) AS a FROM (
        SELECT gr.i AS i, LIST(CAST(gr.g AS DOUBLE) / nd - m[gr.i + 1] * m[gr.j + 1] ORDER BY gr.j) AS row
        FROM gr, nn, mean GROUP BY gr.i)),
      it1(k, v) AS (
        SELECT 0, LIST_TRANSFORM(range(0, 64), x -> CAST(0.125 AS DOUBLE))
        UNION ALL
        SELECT k + 1, LIST_TRANSFORM(
            [LIST_TRANSFORM(range(1, 65), i -> LIST_SUM(LIST_TRANSFORM(range(1, 65), j -> a[i][j] * v[j])))],
            w -> LIST_TRANSFORM(w, x -> x / SQRT(LIST_SUM(LIST_TRANSFORM(w, y -> y * y)))))[1]
        FROM it1, mat WHERE k < 60),
      v1r AS MATERIALIZED (SELECT v FROM it1 WHERE k = 60),
      l1 AS MATERIALIZED (SELECT LIST_SUM(LIST_TRANSFORM(range(1, 65),
          i -> v[i] * LIST_SUM(LIST_TRANSFORM(range(1, 65), j -> a[i][j] * v[j])))) AS lam
        FROM v1r, mat),
      mat2 AS MATERIALIZED (SELECT LIST_TRANSFORM(range(1, 65),
          i -> LIST_TRANSFORM(range(1, 65), j -> a[i][j] - lam * v[i] * v[j])) AS a
        FROM mat, v1r, l1),
      it2(k, v) AS (
        SELECT 0, LIST_TRANSFORM(range(0, 64), x -> CAST(0.125 AS DOUBLE))
        UNION ALL
        SELECT k + 1, LIST_TRANSFORM(
            [LIST_TRANSFORM(range(1, 65), i -> LIST_SUM(LIST_TRANSFORM(range(1, 65), j -> a[i][j] * v[j])))],
            w -> LIST_TRANSFORM(w, x -> x / SQRT(LIST_SUM(LIST_TRANSFORM(w, y -> y * y)))))[1]
        FROM it2, mat2 WHERE k < 60),
      v2r AS MATERIALIZED (SELECT v FROM it2 WHERE k = 60),
      v1s AS MATERIALIZED (SELECT LIST_TRANSFORM(v, x -> x * sg) AS v FROM (
        SELECT v, CASE WHEN v[LIST_POSITION(LIST_TRANSFORM(v, y -> ABS(y)), LIST_MAX(LIST_TRANSFORM(v, y -> ABS(y))))] < 0
          THEN CAST(-1.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS sg FROM v1r)),
      v2s AS MATERIALIZED (SELECT LIST_TRANSFORM(v, x -> x * sg) AS v FROM (
        SELECT v, CASE WHEN v[LIST_POSITION(LIST_TRANSFORM(v, y -> ABS(y)), LIST_MAX(LIST_TRANSFORM(v, y -> ABS(y))))] < 0
          THEN CAST(-1.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS sg FROM v2r)),
      proj AS MATERIALIZED (SELECT q.vec_id,
        LIST_SUM(LIST_TRANSFORM(range(1, 65), j -> (CAST(q.qv[j] AS DOUBLE) - m[j]) * v1s.v[j])) AS pc1_q,
        LIST_SUM(LIST_TRANSFORM(range(1, 65), j -> (CAST(q.qv[j] AS DOUBLE) - m[j]) * v2s.v[j])) AS pc2_q
      FROM q, mean, v1s, v2s)"""

  // BATCH GAP-SESSIONIZATION ([[Analytics.sessionize]]): the batch
  // complement of c56's streaming timer sessions — lag-flag breaks,
  // running-sum session numbers, one rollup. A single user-keyed
  // exchange serves both windows and the aggregate; all session math is
  // whole-second integer arithmetic (unix_timestamp floors on the Spark
  // side, date_diff('second') boundary counts on the oracle side — the
  // same values by construction).
  val e109 = Q(
    "e109_batch_sessionize",
    (s, d) => Analytics.sessionize(T.events(s, d), gapSeconds = 1800)
      .orderBy(col("user_id"), col("session_seq")),
    Some("""WITH o AS (SELECT user_id, event_id, ts,
        CASE WHEN LAG(ts) OVER w IS NULL
             OR date_diff('second', LAG(ts) OVER w, ts) > 1800
          THEN 1 ELSE 0 END AS ns
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      t AS (SELECT user_id, ts, SUM(ns) OVER (PARTITION BY user_id
          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM o)
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
      FROM t GROUP BY user_id, session_seq ORDER BY user_id, session_seq"""))

  // INCREMENTAL PCA ([[Pca.applyMomentsFeed]]): the moment table is
  // ADDITIVE, so a change feed maintains it exactly — retract before-
  // images, add after-images, all in exact Longs, so maintained ≡
  // recomputed BIT-FOR-BIT with no float drift across any number of
  // feed applications (the integer twin of e103's retractable
  // partials, applied to linear algebra). The declared query mutates
  // the embedding corpus (drops, inserts, and in-place vector updates),
  // derives the full-image feed from the snapshot pair, maintains the
  // before-moments, and emits the maintained table; the oracle
  // recomputes the moments from the after-corpus directly. At 100 TB:
  // a PCA model over a daily-mutating corpus costs O(|feed|) per day
  // after the one historical scan — the eigensolve rides the bounded
  // driver matrix either way.
  val e110 = Q(
    "e110_incremental_pca",
    (s, d) => {
      import graft.etl.Cdc
      val emb = T.embeddings(s, d)
      val asDouble = transform(col("embedding"), x => x.cast("double"))
      val mutated = transform(col("embedding"), x => x.cast("double") + lit(0.25))
      val before = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
        .select(col("vec_id"), asDouble.as("vec"))
      val after = emb.filter(pmod(col("vec_id"), lit(7)) =!= 0)
        .select(col("vec_id"),
          when(pmod(col("vec_id"), lit(11)) === 0, mutated)
            .otherwise(asDouble).as("vec"))
      val feed = Cdc.snapshotDiffFull(before, after, Seq("vec_id"))
      momentTable(s, Pca.applyMomentsFeed(
        Pca.moments(before, "vec", 64), feed, "vec", 64))
    },
    Some("""WITH a AS (SELECT CASE WHEN vec_id % 11 = 0
            THEN LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) + 0.25)
            ELSE LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) END AS vec
          FROM embeddings WHERE vec_id % 7 <> 0),
      q AS (SELECT LIST_TRANSFORM(vec, x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS qv FROM a),
      s AS (SELECT i.i AS i, SUM(q.qv[i.i + 1]) AS s FROM q, range(0, 64) i(i) GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM q),
      g AS (SELECT a2.i AS i, b.j AS j, SUM(q.qv[a2.i + 1] * q.qv[b.j + 1]) AS g
            FROM q, range(0, 64) a2(i), range(0, 64) b(j) WHERE a2.i <= b.j GROUP BY 1, 2)
      SELECT g.i, g.j, CAST(g.g AS BIGINT) AS sum_qq,
        CAST(si.s AS BIGINT) AS sum_qi, CAST(sj.s AS BIGINT) AS sum_qj,
        CAST(n.n AS BIGINT) AS n
      FROM g JOIN s si ON si.i = g.i JOIN s sj ON sj.i = g.j CROSS JOIN n
      ORDER BY g.i, g.j"""))

  // COLUMN-CORRELATION PROFILE ([[graft.etl.DataQuality.corrProfile]]):
  // Pearson correlations across lineitem's numeric columns in ONE
  // codegen'd aggregate pass — per-column integer quantization (scales
  // are free under correlation's linear invariance), exact Long sums,
  // pinned-order double math only in the bounded final step. The
  // bivariate complement of e71's univariate profile. At 100 TB: one
  // scan, constant aggregation state, nothing row-scaled collected.
  val e111 = Q(
    "e111_column_corr",
    (s, d) => graft.etl.DataQuality.corrProfile(
      T.lineitem(s, d),
      Seq(("l_quantity", 100.0), ("l_extendedprice", 1.0),
        ("l_discount", 1000000.0), ("l_tax", 1000000.0)))
      .orderBy(col("col_a"), col("col_b")),
    Some("""WITH v AS (SELECT
        CAST(FLOOR(l_quantity * 100.0) AS BIGINT) AS q0,
        CAST(FLOOR(l_extendedprice * 1.0) AS BIGINT) AS q1,
        CAST(FLOOR(l_discount * 1000000.0) AS BIGINT) AS q2,
        CAST(FLOOR(l_tax * 1000000.0) AS BIGINT) AS q3 FROM lineitem),
      m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
        CAST(CAST(SUM(q0) AS BIGINT) AS DOUBLE) AS s0, CAST(CAST(SUM(q1) AS BIGINT) AS DOUBLE) AS s1,
        CAST(CAST(SUM(q2) AS BIGINT) AS DOUBLE) AS s2, CAST(CAST(SUM(q3) AS BIGINT) AS DOUBLE) AS s3,
        CAST(CAST(SUM(q0*q0) AS BIGINT) AS DOUBLE) AS s00, CAST(CAST(SUM(q0*q1) AS BIGINT) AS DOUBLE) AS s01,
        CAST(CAST(SUM(q0*q2) AS BIGINT) AS DOUBLE) AS s02, CAST(CAST(SUM(q0*q3) AS BIGINT) AS DOUBLE) AS s03,
        CAST(CAST(SUM(q1*q1) AS BIGINT) AS DOUBLE) AS s11, CAST(CAST(SUM(q1*q2) AS BIGINT) AS DOUBLE) AS s12,
        CAST(CAST(SUM(q1*q3) AS BIGINT) AS DOUBLE) AS s13, CAST(CAST(SUM(q2*q2) AS BIGINT) AS DOUBLE) AS s22,
        CAST(CAST(SUM(q2*q3) AS BIGINT) AS DOUBLE) AS s23, CAST(CAST(SUM(q3*q3) AS BIGINT) AS DOUBLE) AS s33
        FROM v)
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        (nd*s01 - s0*s1) / (SQRT(nd*s00 - s0*s0) * SQRT(nd*s11 - s1*s1)) AS corr FROM m
      UNION ALL SELECT 'l_quantity', 'l_discount',
        (nd*s02 - s0*s2) / (SQRT(nd*s00 - s0*s0) * SQRT(nd*s22 - s2*s2)) FROM m
      UNION ALL SELECT 'l_quantity', 'l_tax',
        (nd*s03 - s0*s3) / (SQRT(nd*s00 - s0*s0) * SQRT(nd*s33 - s3*s3)) FROM m
      UNION ALL SELECT 'l_extendedprice', 'l_discount',
        (nd*s12 - s1*s2) / (SQRT(nd*s11 - s1*s1) * SQRT(nd*s22 - s2*s2)) FROM m
      UNION ALL SELECT 'l_extendedprice', 'l_tax',
        (nd*s13 - s1*s3) / (SQRT(nd*s11 - s1*s1) * SQRT(nd*s33 - s3*s3)) FROM m
      UNION ALL SELECT 'l_discount', 'l_tax',
        (nd*s23 - s2*s3) / (SQRT(nd*s22 - s2*s2) * SQRT(nd*s33 - s3*s3)) FROM m
      ORDER BY col_a, col_b"""))

  /** Oracle for e112: MMR greedy selection restated as k chained SQL
    * steps (greedy is sequential in k, so the oracle unrolls it — step
    * t picks `ROW_NUMBER() = 1` over `λ·cos − (1−λ)·max sim-to-
    * selected`, exactly the operator's argmax/tie-break order). */
  private def mmrOracle(fetch: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
      sc AS (SELECT q.qid, e.vec_id,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(e.embedding)+1),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          / (SQRT(LIST_SUM(LIST_TRANSFORM(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           * SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
        FROM embeddings e, q WHERE e.vec_id <> q.qid),
      cand AS (SELECT qid, vec_id, cos FROM (
          SELECT qid, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM sc)
        WHERE rn <= $fetch),
      ${mmrTail(k, lambda = 0.7)}"""

  /** The greedy-MMR unroll as a reusable WITH-tail: expects a CTE
    * `cand(qid, vec_id, cos)` — any retriever's candidate front — and
    * finishes with the SELECT of (qid, vec_id, cos, mmr_rank).
    * `lambda` must match the operator call it restates (interpolated
    * into the score, with `1.0 - λ` left as an EXPRESSION — the same
    * two IEEE ops the Scala side runs, per the parity contract). */
  private def mmrTail(k: Int, lambda: Double): String = {
    val head = s"""cv AS MATERIALIZED (SELECT c.qid, c.vec_id, c.cos, e.embedding AS emb,
          SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        FROM cand c JOIN embeddings e USING (vec_id)),
      sim AS MATERIALIZED (SELECT a.qid, a.vec_id AS ca, b.vec_id AS cb,
          LIST_SUM(LIST_TRANSFORM(range(1, LEN(a.emb)+1),
            i -> CAST(a.emb[i] AS DOUBLE) * CAST(b.emb[i] AS DOUBLE))) / (a.nrm * b.nrm) AS s
        FROM cv a JOIN cv b ON a.qid = b.qid AND a.vec_id <> b.vec_id),
      s1 AS (SELECT qid, vec_id, cos, 1 AS mmr_rank FROM (
          SELECT qid, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM cv)
        WHERE rn = 1),
      sel1 AS (SELECT qid, vec_id FROM s1)"""
    val steps = (2 to k).map { t =>
      s""",
      sc$t AS (SELECT p.qid, p.vec_id, p.cos,
          $lambda * p.cos - (1.0 - $lambda) * MAX(sim.s) AS score
        FROM cv p
        JOIN sim ON sim.qid = p.qid AND sim.ca = p.vec_id
        JOIN sel${t - 1} w ON w.qid = sim.qid AND w.vec_id = sim.cb
        WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
          WHERE x.qid = p.qid AND x.vec_id = p.vec_id)
        GROUP BY p.qid, p.vec_id, p.cos),
      s$t AS (SELECT qid, vec_id, cos, $t AS mmr_rank FROM (
          SELECT qid, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn FROM sc$t)
        WHERE rn = 1),
      sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT qid, vec_id FROM s$t)"""
    }.mkString
    val union = (1 to k).map(t => s"SELECT * FROM s$t").mkString(" UNION ALL ")
    s"""$head$steps
      SELECT qid, vec_id, cos, CAST(mmr_rank AS BIGINT) AS mmr_rank
      FROM ($union) ORDER BY qid, mmr_rank"""
  }

  // DIVERSIFIED RETRIEVAL ([[Similarity.mmrRerank]]): maximal marginal
  // relevance over the e03 candidate front — greedy λ·rel − (1−λ)·
  // max-sim-to-selected, the standard answer to "the top-k is five
  // copies of the same near-duplicate". The oracle unrolls the greedy
  // recursion into k chained SQL steps over the same pinned arithmetic.
  // At 100 TB: candidates come from the ANN index (bounded per query),
  // selection state is ≤ fetch vectors per group, queries parallelize
  // across the cluster — the only exchange is the qid grouping.
  val e112 = Q(
    "e112_mmr_diverse_topk",
    (s, d) => {
      val emb = T.embeddings(s, d)
      val cands = Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10), k = 20)
      Similarity.mmrRerank(cands, emb, k = 5, lambda = 0.7)
        .orderBy(col("qid"), col("mmr_rank"))
    },
    Some(mmrOracle(fetch = 20, k = 5)))

  // FEATURE HASHING ([[TextOps.featureHash]]): the hashing-trick
  // featurizer — tokens into a fixed 1024-bucket space, tf per
  // (doc, bucket), no vocabulary state anywhere. The vocabulary-free
  // complement of e44/e45: features are stable across shards and
  // reruns by construction, and the only exchange carries
  // (doc, bucket, count) with map-side combine. Bucket ids ride the
  // portable md5 hash so the oracle restates them exactly.
  val e113 = Q(
    "e113_feature_hashing",
    (s, d) => TextOps.featureHash(T.documents(s, d), "doc_id", "text", dim = 1024)
      .orderBy(col("doc_id"), col("bucket")),
    Some("""WITH t AS (SELECT doc_id, tok FROM (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
        WHERE length(tok) > 0)
      SELECT doc_id,
        CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1024 AS bucket,
        COUNT(*) AS tf
      FROM t GROUP BY 1, 2 ORDER BY doc_id, bucket"""))

  // DIVERSIFIED SERVING FROM THE PERSISTED INDEX: e47's IVF-PQ serve
  // as the candidate front (fetch=20 ADC-scored rows per query, cell-
  // pruned reads) re-ranked by e112's greedy MMR (exact full-vector
  // sims among the bounded candidates). The end-to-end 100 TB serving
  // shape: approximate index narrows, exact diversity re-ranks — the
  // re-rank touches ≤ fetch vectors per query no matter the corpus.
  // The oracle chains the two recomputes: the full IVF-PQ recompute
  // CTEs (e37's) feed `cand`, then the k-step greedy unroll.
  val e114 = Q(
    "e114_index_mmr_serve",
    (s, d) => {
      val dir = tempQueryDir("graft_e114_idx")
      Similarity.buildIndex(T.embeddings(s, d), dir,
        nlist = 64, m = 16, ksub = 64, pqIters = 2)
      val cands = Similarity.queryIndex(Similarity.loadIndex(s, dir),
        T.embeddings(s, d).filter(col("vec_id") < 10), k = 20, nprobe = 8)
        .withColumnRenamed("adc", "cos")
      Similarity.mmrRerank(cands, T.embeddings(s, d), k = 5, lambda = 0.7)
        .orderBy(col("qid"), col("mmr_rank"))
    },
    Some(s"""WITH ${ivfPqServeCtes("embeddings")},
      cand AS (SELECT qid, vec_id, adc AS cos FROM rk WHERE rn <= 20),
      ${mmrTail(5, lambda = 0.7)}"""))

  // EXACT GLOBAL RANK AT SCALE ([[Ranking.globalRowNumber]]): the
  // single-partition window trap, solved — rank every lineitem row by
  // price over a TOTAL order (unique PK tiebreak) via range exchange +
  // bounded offset table + seeded per-partition enumeration, plus the
  // rank-transform `pct` feature. Bit-identical to the one-task window
  // at any partition count (spec-pinned); the oracle IS that window.
  val e115 = Q(
    "e115_global_rank",
    (s, d) => Ranking.globalRowNumber(
      T.lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_extendedprice")),
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
      .orderBy(col("rn")),
    Some("""WITH r AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        l_extendedprice,
        ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        COUNT(*) OVER () AS n
      FROM lineitem)
      SELECT l_orderkey, l_linenumber, l_extendedprice, rn,
        CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS pct
      FROM r ORDER BY rn"""))

  // EXACT ROC-AUC AT SCALE ([[Ranking.rocAuc]]): the rank-sum identity
  // over e115's global rank — one range exchange + one aggregate, not
  // the quadratic positives×negatives pair join. Score = PC1 from the
  // e108 model (does the top principal axis separate the label
  // halves?); positives = label < 5. Rank sums are exact Longs; the
  // one IEEE division is pinned and restated identically in the
  // oracle, whose rank is the plain window over the same PCA CTEs.
  val e116 = Q(
    "e116_roc_auc",
    (s, d) => {
      val emb = T.embeddings(s, d)
      val scored = Pca.project(emb, "embedding", Pca.fit(emb, "embedding", 64))
        .select(col("vec_id"), col("pc1_q"), col("label"))
      Ranking.rocAuc(scored,
        Seq(col("pc1_q"), col("vec_id")), col("label") < 5)
    },
    Some(s"""WITH RECURSIVE ${pcaProjectCtes()},
      sc AS (SELECT p.vec_id, p.pc1_q, e.label FROM proj p JOIN embeddings e USING (vec_id)),
      r AS (SELECT label, ROW_NUMBER() OVER (ORDER BY pc1_q, vec_id) AS rn FROM sc),
      a AS (SELECT CAST(SUM(CASE WHEN label < 5 THEN rn ELSE 0 END) AS BIGINT) AS rank_sum,
          CAST(SUM(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          COUNT(*) AS n FROM r)
      SELECT n_pos, n - n_pos AS n_neg,
        CAST(rank_sum - n_pos * (n_pos + 1) // 2 AS DOUBLE)
          / (CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)) AS auc
      FROM a"""))

  // CALIBRATION TABLE ([[Ranking.calibration]]): equal-population
  // score-decile buckets (rank-transform pct, not equal-width values)
  // × positive rate in integer micros — the binned-eval companion to
  // e116, same single range exchange. Every output column exact
  // integer arithmetic.
  val e117 = Q(
    "e117_calibration",
    (s, d) => {
      val emb = T.embeddings(s, d)
      val scored = Pca.project(emb, "embedding", Pca.fit(emb, "embedding", 64))
        .select(col("vec_id"), col("pc1_q"), col("label"))
      Ranking.calibration(scored,
        Seq(col("pc1_q"), col("vec_id")), col("label") < 5, bins = 10)
        .orderBy(col("bucket"))
    },
    Some(s"""WITH RECURSIVE ${pcaProjectCtes()},
      sc AS (SELECT p.vec_id, p.pc1_q, e.label FROM proj p JOIN embeddings e USING (vec_id)),
      r AS (SELECT label,
          ROW_NUMBER() OVER (ORDER BY pc1_q, vec_id) AS rn,
          COUNT(*) OVER () AS nn FROM sc),
      b AS (SELECT label,
          CAST(LEAST(FLOOR(CAST(rn - 1 AS DOUBLE) / CAST(nn - 1 AS DOUBLE) * 10.0), 9.0) AS BIGINT) AS bucket
        FROM r)
      SELECT bucket, COUNT(*) AS n,
        CAST(SUM(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        CAST(SUM(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS pos_rate_micro
      FROM b GROUP BY bucket ORDER BY bucket"""))

  // TRIANGLE COUNTING ([[Graph.triangleCounts]]): cluster-density
  // diagnostics on the near-dup graph — a duplicate family is
  // near-clique (many triangles), a boilerplate hub chains documents
  // with NONE; degree alone can't tell them apart. Degree-oriented
  // node-iterator (wedges enumerated at the lowest-(degree,id) corner)
  // bounds wedge fan-out at O(√m) per node for any degree
  // distribution — the hub that would cost deg² under the naive wedge
  // join costs nothing. Edge set = e02's exact Jaccard pairs; the
  // oracle enumerates triangles by sorted order and credits corners.
  val e118 = Q(
    "e118_triangle_count",
    (s, d) => Graph.triangleCounts(
      Dedup.jaccardPairs(
        // < 1000 keeps the raw-corpus component at every scale;
        // % 5000 < 20 admits WHOLE cross-copy near-dup families at the
        // replicated scales (sf1+ family ids differ by multiples of
        // 5000) so the sf1/sf10 graphs carry real clique structure
        T.documents(s, d).filter(col("doc_id") < 1000 ||
          pmod(col("doc_id"), lit(5000)) < 20),
        "doc_id", "text", shingleWidth = 3, threshold = 0.5, maxDf = Int.MaxValue)
        .select(col("doc1"), col("doc2")),
      "doc1", "doc2")
      .orderBy(col("node")),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE doc_id < 1000 OR doc_id % 5000 < 20),
      sh AS (SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS s
        FROM w, UNNEST(range(1, greatest(len(ws)-2, 1)+1)) AS t(i))),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      ed AS (SELECT doc1 AS a, doc2 AS b
        FROM inter JOIN sizes n1 ON n1.doc_id = doc1 JOIN sizes n2 ON n2.doc_id = doc2
        WHERE CAST(inter.i AS DOUBLE)/(n1.n + n2.n - inter.i) >= 0.5),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ed e1
        JOIN ed e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN ed e3 ON e3.a = e1.b AND e3.b = e2.b)
      SELECT node, COUNT(*) AS triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
      GROUP BY node ORDER BY node"""))

  // SEASONAL DECOMPOSITION ([[Analytics.seasonalDecompose]]): the
  // FinOps anomaly primitive — weekly seasonality out of the daily
  // series before a deviation means anything. value = trend (centered
  // 7-day mean) + seasonal (dow mean − overall mean) + residual, all
  // in exact integer micros; every division is of a non-negative sum
  // so truncating div ≡ flooring // across engines, and day-of-week is
  // epoch-day mod 7 (engine-neutral numbering). One exchange.
  val e119 = Q(
    "e119_seasonal_decompose",
    (s, d) => Analytics.seasonalDecompose(T.events(s, d))
      .orderBy(col("event_type"), col("day")),
    Some("""WITH dl AS (SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS BIGINT) AS v_micro
      FROM events GROUP BY 1, 2),
      t AS (SELECT event_type, day, v_micro,
        CAST(SUM(v_micro) OVER w7 AS BIGINT) // COUNT(*) OVER w7 AS trend_micro,
        date_diff('day', DATE '1970-01-01', day) % 7 AS dow
      FROM dl WINDOW w7 AS (PARTITION BY event_type ORDER BY day
        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      sg AS (SELECT *,
        CAST(SUM(v_micro) OVER (PARTITION BY event_type, dow) AS BIGINT)
          // COUNT(*) OVER (PARTITION BY event_type, dow)
        - CAST(SUM(v_micro) OVER (PARTITION BY event_type) AS BIGINT)
          // COUNT(*) OVER (PARTITION BY event_type) AS seasonal_micro FROM t)
      SELECT event_type, day, v_micro, CAST(dow AS BIGINT) AS dow,
        CAST(trend_micro AS BIGINT) AS trend_micro,
        CAST(seasonal_micro AS BIGINT) AS seasonal_micro,
        CAST(v_micro - trend_micro - seasonal_micro AS BIGINT) AS residual_micro
      FROM sg ORDER BY event_type, day"""))

  // SERVING OVER A MAINTAINED JOIN VIEW ([[graft.plans.MaterializedView
  // .JoinMvDef]] + [[graft.etl.Incremental.applyJoinFeed]]): the
  // composition the two halves were built for — e105 keeps the
  // orders ⋈ customer view current under I/U/D mutation (including
  // join-key-moving updates), partials over THAT view are the MV, and
  // the c11-style star dashboard — an aggregate over the equijoin of
  // the BASE scans, with a dim-key filter — is rewritten by the
  // optimizer rule to read |keys| partial rows: the executed plan must
  // contain NO join and touch neither base table (self-asserted). The
  // rule recognizes the join-shaped child (equi-condition on the
  // registered keys, mirrored pushdown predicates deduped, inferred
  // IsNotNull(joinKey) dropped as vacuous on an inner-join view). The
  // oracle recomputes the dashboard from the raw after-snapshot ⋈
  // customer — the hash is maintained-view ∘ partials ∘ rewrite ≡
  // recompute. At 100 TB: the refresh cost is O(|feed|) maintenance +
  // an O(|keys|) serve; the dashboard never re-joins history.
  //
  // ONE-TIME BOOTSTRAP RECIPE (the sf100 story): this query's
  // in-fixture derive materializes `before ⋈ dim` because the VIEW is
  // its declared subject — at sf100 that join crosses the broadcast
  // boundary (15M-row dim) and flips to a 150M×15M shuffle of raw
  // fact rows (the measured 18.5× step, BASELINE.md r19 sf100
  // adjudication). A deployment bootstrapping only the SERVING
  // PARTIALS must use [[graft.etl.Incremental.bootstrapJoinPartials]]
  // instead — pre-aggregate the fact on the join key, join the
  // collapsed partials with the dim, re-aggregate on the group keys —
  // which is bit-identical (JoinFeedPartialsSpec) and measured
  // sublinear-per-decade ACROSS the broadcast boundary: 1.28 s sf1 →
  // 3.25 s sf10 → 27.2 s sf100 (graft.PhaseBench e120_bootstrap,
  // BASELINE.md r20). e122's streamed lifecycle uses it for its v0.
  val e120 = Q(
    "e120_join_mv_serving",
    (s, d) => {
      import graft.etl.{Cdc, Incremental}
      import graft.plans.MaterializedView
      import graft.plans.MaterializedView.JoinMvDef
      // the fact base IS the raw orders table — the view maintains
      // TOWARD the current table, nothing corpus-sized is rewritten
      // (the first cut of this query wrote a full mutated fact copy
      // inside the lifecycle and anchored 13.5x at the sf10 step —
      // the anchor discipline rejecting a row-scaled write that the
      // real serving geometry never pays)
      val factPath = s"$d/orders.parquet"
      val current = s.read.parquet(factPath)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val dimPath = tempQueryDir("graft_e120_dim")
      T.customer(s, d).select(
        col("c_custkey").as("o_custkey"),
        col("c_nationkey").cast("long").as("c_nationkey"))
        .write.mode("overwrite").parquet(dimPath)
      val dim = s.read.parquet(dimPath)
      // the STALE state the view was last materialized against — a
      // small divergence, as a real maintenance cycle sees (~1% rows
      // inserted since, ~1% deleted since, ~1% stale prices, ~1%
      // since-moved join keys): the feed is small BY CONSTRUCTION,
      // which is what makes broadcasting it the right plan
      val stale = current.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(101)) === 0, col("o_custkey") + 1L)
            .otherwise(col("o_custkey")).as("o_custkey"),
          when(pmod(col("o_orderkey"), lit(91)) === 0, col("o_totalprice") - 10.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      // rows deleted since: present in the stale state under keys the
      // current table never uses (negated — guaranteed disjoint)
      val deletedSince = current.filter(pmod(col("o_orderkey"), lit(83)) === 0)
        .select((-col("o_orderkey")).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      val before = stale.unionByName(deletedSince)
      // catch the view up to the CURRENT table (the e105 cycle: anti
      // out the touched rowIds, re-join the after-images) and keep
      // partials of the maintained view as the serving MV
      val view = before.join(dim, Seq("o_custkey"))
      val feed = Cdc.snapshotDiffFull(before, current, Seq("o_orderkey"))
      val maintained = Incremental.applyJoinFeed(
        view, feed, dim, Seq("o_custkey"), Seq("o_orderkey"))
      val mvDir = tempQueryDir("graft_e120_mv")
      Incremental.partials(maintained, Seq("c_nationkey"), "o_totalprice")
        .write.mode("overwrite").parquet(mvDir)
      MaterializedView.servePinned(s, Nil, Seq(JoinMvDef(
        factPath, dimPath, Seq("o_custkey"),
        s.read.parquet(mvDir), Seq("c_nationkey"), "o_totalprice"))) {
        val served = s.read.parquet(factPath)
          .join(s.read.parquet(dimPath), Seq("o_custkey"))
          .filter(col("c_nationkey") < 20)
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(graft.Qh.Dec)).cast("double").as("total"))
          .orderBy(col("c_nationkey"))
        val plan = served.queryExecution.executedPlan.toString
        require(plan.contains(new java.io.File(mvDir).getName) &&
          !plan.contains("orders.parquet") &&
          !plan.contains(new java.io.File(dimPath).getName),
          s"e120: the star dashboard must serve from the join-view partials:\n$plan")
        served
      }
    },
    Some(s"""SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
        COUNT(*) AS cnt,
        ${graft.Qh.oSum("o.o_totalprice")} AS total
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_nationkey < 20
      GROUP BY 1 ORDER BY 1"""))

  // STREAMING MOMENT MAINTENANCE ([[Pca.applyMomentsFeed]] driven by a
  // file stream): the last batch-only member of the IVM family joins
  // the streaming fold — e110's exact integer moment maintenance
  // applied per micro-batch with batch-id-VERSIONED state (the e97/e49
  // idempotence idiom: batch id → state version, replay overwrites the
  // same version deterministically, so crash-recovery re-delivery
  // cannot double-count a feed). The mutation feed (drops, inserts,
  // in-place vector updates — e110's carving) arrives as three
  // deterministic micro-batches; each folds its signed delta into the
  // previous version's 2,080-row moment table. The oracle recomputes
  // the moments from the after-corpus directly, so the hash proves
  // stream-of-feeds ≡ batch recompute BIT-FOR-BIT — no float drift can
  // accumulate because every term is an exact Long. At 100 TB: the PCA
  // model stays current under streaming ingest for O(|batch|) work per
  // trigger + a constant-size state read/write; the eigensolve rides
  // the bounded driver matrix whenever a consumer refits.
  val e121 = Q(
    "e121_streaming_pca_moments",
    (outer, d) => {
      import graft.etl.Cdc
      import org.apache.spark.sql.streaming.Trigger
      val s = graft.streaming.StateBackend.isolatedStreamSession(outer)
      val emb = T.embeddings(s, d)
      val asDouble = transform(col("embedding"), x => x.cast("double"))
      val mutated = transform(col("embedding"), x => x.cast("double") + lit(0.25))
      val before = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
        .select(col("vec_id"), asDouble.as("vec"))
      val after = emb.filter(pmod(col("vec_id"), lit(7)) =!= 0)
        .select(col("vec_id"),
          when(pmod(col("vec_id"), lit(11)) === 0, mutated)
            .otherwise(asDouble).as("vec"))
      val feed = Cdc.snapshotDiffFull(before, after, Seq("vec_id"))
      // v0: bootstrap = exact moments of the before-corpus; the feed
      // arrives as three micro-batches staged in ONE pass over the
      // snapshot diff ([[stageSliceDirs]] — the per-slice loop paid the
      // full-outer diff three times). Bootstrap and staging are
      // independent actions — overlap them (guide §2.6).
      val stateRoot = tempQueryDir("graft_e121_state")
      val staging = tempQueryDir("graft_e121_in")
      val fs = new org.apache.hadoop.fs.Path(staging)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      ConcurrentActions.inParallel(
        () => momentTable(s, Pca.moments(before, "vec", 64)).coalesce(1)
          .write.mode("overwrite").parquet(s"$stateRoot/v0"),
        () => stageSliceDirs(feed, pmod(col("vec_id"), lit(3)), staging))
      val sch = s.read.parquet(s"$staging/slice0").schema
      val src = s.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(s"$staging/slice*")
      val ckpt = tempQueryDir("graft_e121_ck")
      val q = src.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val sb = batch.sparkSession
          // the fold's exchanges are bounded by the feed batch and the
          // CONSTANT-size (64×64 moment) state — AQE has nothing to
          // adapt and costs one job per exchange per batch. Scoped to
          // the stream's cloned session (the e54/e55 idiom).
          if (id == 0L) sb.conf.set("spark.sql.adaptive.enabled", "false")
          momentTable(sb, Pca.applyMomentsFeed(
            Pca.momentsFromTable(sb.read.parquet(s"$stateRoot/v$id"), 64),
            batch, "vec", 64))
            .coalesce(1).write.mode("overwrite").parquet(s"$stateRoot/v${id + 1}")
        }
        .start()
      q.awaitTermination()
      val vmax = fs.listStatus(new org.apache.hadoop.fs.Path(stateRoot))
        .map(_.getPath.getName).filter(_.startsWith("v")).map(_.drop(1).toInt).max
      s.read.parquet(s"$stateRoot/v$vmax").orderBy(col("i"), col("j"))
    },
    Some("""WITH a AS (SELECT CASE WHEN vec_id % 11 = 0
            THEN LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) + 0.25)
            ELSE LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) END AS vec
          FROM embeddings WHERE vec_id % 7 <> 0),
      q AS (SELECT LIST_TRANSFORM(vec, x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS qv FROM a),
      s AS (SELECT i.i AS i, SUM(q.qv[i.i + 1]) AS s FROM q, range(0, 64) i(i) GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM q),
      g AS (SELECT a2.i AS i, b.j AS j, SUM(q.qv[a2.i + 1] * q.qv[b.j + 1]) AS g
            FROM q, range(0, 64) a2(i), range(0, 64) b(j) WHERE a2.i <= b.j GROUP BY 1, 2)
      SELECT g.i, g.j, CAST(g.g AS BIGINT) AS sum_qq,
        CAST(si.s AS BIGINT) AS sum_qi, CAST(sj.s AS BIGINT) AS sum_qj,
        CAST(n.n AS BIGINT) AS n
      FROM g JOIN s si ON si.i = g.i JOIN s sj ON sj.i = g.j CROSS JOIN n
      ORDER BY g.i, g.j"""))

  // STREAM-MAINTAINED JOIN VIEW ([[graft.etl.Incremental
  // .applyJoinFeedPartials]] driven by a file stream, served through
  // [[graft.plans.MaterializedView.JoinMvDef]]): e120's star dashboard
  // kept current under STREAMING ingest — the reference's cron
  // recompute (entrypoint.sh:7-9) upgraded to incremental. The A-side
  // mutation feed (inserts, deletes, stale prices, join-key-moving
  // updates) arrives as three deterministic micro-batches; each folds
  // into the join view's |keys|-row RETRACTABLE PARTIALS directly —
  // never materializing the view itself (a per-trigger view rewrite is
  // the corpus-sized write the e120 sf10 anchor rejected). State is
  // batch-id-VERSIONED (the e97/e49/e121 idiom: batch id → version,
  // replay overwrites the same version deterministically, so
  // crash-recovery re-delivery cannot double-apply — the spec-pinned
  // contract in JoinFeedPartialsSpec). The final partials serve the
  // dashboard through the optimizer rewrite: the executed plan reads
  // NEITHER base table (self-asserted). The oracle recomputes from the
  // raw after-snapshot ⋈ customer, so the hash proves stream-of-feeds ∘
  // partials ∘ rewrite ≡ batch recompute — exact decimal partials, no
  // drift can accumulate. At 100 TB: O(|batch| ⋈ dim) maintenance per
  // trigger + constant-size state I/O + an O(|keys|) serve.
  /** e122's lifecycle body, extracted so [[graft.PhaseBench]] can time
    * its phases SEPARATELY (VERDICT r19 #3: the declared query's
    * end-to-end number is dominated by the full-outer snapshot diff
    * that DERIVES the feed — fixture work a deployment's CDC source
    * does for free — so "maintenance is feed-sized" needs its own
    * measured number, not a comment). `onPhase(name, sec)` fires per
    * phase: `fixture` (dim write + before-state construction + feed
    * derive + micro-batch staging), `bootstrap` (the v0 partials —
    * [[graft.etl.Incremental.bootstrapJoinPartials]], the recipe that
    * never materializes the row-scaled view), `maintain_b{0,1,2}` (each
    * streamed feed fold — the steady-state cost), and the caller times
    * the serve. The declared query passes a no-op hook. */
  private[graft] def streamingJoinMvLifecycle(
      outer: org.apache.spark.sql.SparkSession, d: String,
      onPhase: (String, Double) => Unit = (_, _) => ()): DataFrame = {
      import graft.etl.{Cdc, Incremental}
      import graft.plans.MaterializedView
      import graft.plans.MaterializedView.JoinMvDef
      import org.apache.spark.sql.streaming.Trigger
      def timed[A](name: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        onPhase(name, (System.nanoTime() - t0) / 1e9)
        r
      }
      val s = graft.streaming.StateBackend.isolatedStreamSession(outer)
      val factPath = s"$d/orders.parquet"
      val current = s.read.parquet(factPath)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val dimPath = tempQueryDir("graft_e122_dim")
      val stateRoot = tempQueryDir("graft_e122_state")
      val staging = tempQueryDir("graft_e122_in")
      val fs = new org.apache.hadoop.fs.Path(staging)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // the STALE state the view was last materialized against (~1%
      // inserted since, ~1% deleted since, ~1% stale prices, ~1%
      // since-moved join keys — the feed is small BY CONSTRUCTION)
      val stale = current.filter(pmod(col("o_orderkey"), lit(89)) =!= 0)
        .select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(103)) === 0, col("o_custkey") + 2L)
            .otherwise(col("o_custkey")).as("o_custkey"),
          when(pmod(col("o_orderkey"), lit(87)) === 0, col("o_totalprice") + 5.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val deletedSince = current.filter(pmod(col("o_orderkey"), lit(79)) === 0)
        .select((-col("o_orderkey")).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      val before = stale.unionByName(deletedSince)
      timed("fixture") {
        // the feed arrives as three micro-batches staged in ONE pass
        // ([[stageSliceDirs]] — the old per-slice loop recomputed the
        // full-outer snapshot diff once per slice); deriving it by
        // snapshot diff is FIXTURE work: a real deployment's CDC source
        // delivers the feed ready-made. The dim write is independent of
        // the staging — overlap the two actions (guide §2.6).
        val feed = Cdc.snapshotDiffFull(before, current, Seq("o_orderkey"))
        ConcurrentActions.inParallel(
          () => T.customer(s, d).select(
              col("c_custkey").as("o_custkey"),
              col("c_nationkey").cast("long").as("c_nationkey"))
            .write.mode("overwrite").parquet(dimPath),
          () => stageSliceDirs(feed, pmod(col("o_orderkey"), lit(3)), staging))
      }
      val dim = s.read.parquet(dimPath)
      // v0 bootstrap: the |keys|-row retractable partials of the
      // before-view — the ONLY state the stream maintains, derived
      // WITHOUT materializing the row-scaled view (bootstrapJoinPartials
      // collapses the fact before the join, so the plan holds its shape
      // on either side of the broadcast boundary — the e120 sf100 recipe)
      timed("bootstrap") {
        Incremental.bootstrapJoinPartials(
            before, dim, Seq("o_custkey"), Seq("c_nationkey"), "o_totalprice")
          .coalesce(1).write.mode("overwrite").parquet(s"$stateRoot/v0")
      }
      val sch = s.read.parquet(s"$staging/slice0").schema
      val src = s.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(s"$staging/slice*")
      val ckpt = tempQueryDir("graft_e122_ck")
      val q = src.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          timed(s"maintain_b$id") {
            val sb = batch.sparkSession
            // every exchange in this fold is bounded by the feed batch or
            // the |group-keys|-row partials state (c_nationkey here —
            // dims, not rows), so AQE's per-stage materialization buys
            // nothing and costs one job per exchange per batch. Scoped to
            // the stream's cloned session (the e54/e55 idiom).
            if (id == 0L) sb.conf.set("spark.sql.adaptive.enabled", "false")
            Incremental.applyJoinFeedPartials(
              sb.read.parquet(s"$stateRoot/v$id"), batch, sb.read.parquet(dimPath),
              Seq("o_custkey"), Seq("o_orderkey"), Seq("c_nationkey"), "o_totalprice")
              .coalesce(1).write.mode("overwrite").parquet(s"$stateRoot/v${id + 1}")
          }
        }
        .start()
      q.awaitTermination()
      val vmax = fs.listStatus(new org.apache.hadoop.fs.Path(stateRoot))
        .map(_.getPath.getName).filter(_.startsWith("v")).map(_.drop(1).toInt).max
      require(vmax == 3, s"e122: expected 3 micro-batches to fold, state is at v$vmax")
      // serve the dashboard THROUGH the rewrite rule AND materialize
      // in-context (servePinned): the executed plan must read only the
      // maintained partials, and the pinned result keeps that true for
      // the caller's later write too
      timed("serve") {
        MaterializedView.servePinned(s, Nil, Seq(JoinMvDef(
          factPath, dimPath, Seq("o_custkey"),
          s.read.parquet(s"$stateRoot/v$vmax"), Seq("c_nationkey"), "o_totalprice"))) {
          val served = s.read.parquet(factPath)
            .join(s.read.parquet(dimPath), Seq("o_custkey"))
            .filter(col("c_nationkey") >= 5)
            .groupBy(col("c_nationkey"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("o_totalprice").cast(graft.Qh.Dec)).cast("double").as("total"))
            .orderBy(col("c_nationkey"))
          val plan = served.queryExecution.executedPlan.toString
          require(plan.contains(new java.io.File(stateRoot).getName) &&
            !plan.contains("orders.parquet") &&
            !plan.contains(new java.io.File(dimPath).getName),
            s"e122: the star dashboard must serve from the streamed join-view partials:\n$plan")
          served
        }
      }
  }

  val e122 = Q(
    "e122_streaming_join_mv",
    (outer, d) => streamingJoinMvLifecycle(outer, d),
    Some(s"""SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
        COUNT(*) AS cnt,
        ${graft.Qh.oSum("o.o_totalprice")} AS total
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_nationkey >= 5
      GROUP BY 1 ORDER BY 1"""))

  // AGGREGATE OVER AN EQUI+RANGE JOIN ([[graft.ops.RangeJoin.banded]]
  // with equi-keys): the scale-anchorable range-join representative —
  // c35 is output-bound quadratic BY SEMANTICS (a keyless band over a
  // fixed value domain: 130.6M pairs at sf1 → ~13B at sf10), so the
  // OPERATOR had no usable scale anchor. This is the shape that
  // scales: per-user attribution windows (each purchase matched to
  // the same user's clicks in the preceding 7 days), where users grow
  // with data but per-user event counts don't — candidate pairs, and
  // therefore cost, are LINEAR in input. One hash exchange on
  // (user_id, band bucket); the per-day rollup keeps the declared
  // output constant-size, so the sf10 anchor measures the JOIN, not
  // output materialization. All window math is whole-second integer
  // arithmetic (unix_timestamp floors ≡ date_diff('second') boundary
  // counting — the e109 idiom); click values quantize to micro Longs
  // before the cross-row sum (order-free, engine-equal).
  val e123 = Q(
    "e123_range_join_agg",
    (s, d) => {
      val ev = T.events(s, d)
      val sec = unix_timestamp(col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), sec.as("p_sec"), to_date(col("ts")).as("day"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), sec.as("lo"), (sec + lit(604800L)).as("hi"),
          floor(col("value") * lit(1000000.0)).cast("long").as("click_value_micro"))
      RangeJoin.banded(purchases, clicks, Seq("user_id"), "p_sec", "lo", "hi", 604800.0)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("attributed"),
          sum(col("click_value_micro")).as("click_value_micro"))
        .orderBy(col("day"))
    },
    Some("""SELECT CAST(p.ts AS DATE) AS day, COUNT(*) AS attributed,
        CAST(SUM(CAST(FLOOR(c.value * 1000000.0) AS BIGINT)) AS BIGINT) AS click_value_micro
      FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id
        AND date_diff('second', TIMESTAMP '1970-01-01 00:00:00', p.ts)
            BETWEEN date_diff('second', TIMESTAMP '1970-01-01 00:00:00', c.ts)
            AND date_diff('second', TIMESTAMP '1970-01-01 00:00:00', c.ts) + 604800
      GROUP BY 1 ORDER BY 1"""))

  val all: Seq[Q] =
    Seq(e01, e02, e03, e04, e05, e06, e07, e08, e09, e10, e11, e12, e13, e14,
      e15, e16, e17, e18, e19, e20, e21, e22, e23, e24, e25, e26, e27, e28, e29,
      e30, e31, e32, e33, e34, e35, e36, e37, e38, e39, e40, e41, e42, e43, e44,
      e45, e46, e47, e48, e49, e50, e51, e52, e53, e54, e55, e56, e57, e58, e59,
      e60, e61, e62, e63, e64, e65, e66, e67, e68, e69, e70, e71, e72, e73, e74,
      e75, e76, e77, e78, e79, e80, e81, e82, e83, e84, e85, e86, e87, e88, e89,
      e90, e91, e92, e93, e94, e95, e96, e97, e98, e99, e100, e101, e102, e103,
      e104, e105, e106, e107, e108, e109, e110, e111, e112, e113, e114, e115, e116, e117, e118, e119,
      e120, e121, e122, e123)
}
