package graft.ext

import graft.{SparkSpec, Tables => T}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The sink-parameterized corpus flow (VERDICT r7 item 5): the
  * production path writes chunks WHILE the shared dedup front is
  * persisted and caches nothing itself — asserted by cache accounting
  * around the run, not by reading the code. Runs at the sf0.01 gate
  * scale like the declared capstones. */
class CorpusPipelineSpec extends SparkSpec {

  private def cachedRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Operators of `plan` — through adaptive wrappers, query stages and
    * every cached relation it scans, each cache counted once — that
    * evaluate [[TextOps.qualityFilter]]'s punctuation-ratio regexp. */
  private def gateEvaluations(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def isGate(n: SparkPlan) = n.expressions.exists(_.exists {
      case r: RegExpReplace => r.regexp match {
        case Literal(v, _) => String.valueOf(v) == "[.,!?;:]"
        case _ => false
      }
      case _ => false
    })
    def walk(n: SparkPlan): Int = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: InMemoryTableScanExec =>
        if (seen.add(s.relation.cacheBuilder)) walk(s.relation.cachedPlan) else 0
      // a file scan lists the filter condition it was offered (its
      // dataFilters) without evaluating it: count evaluating operators
      case other => (if (other.children.nonEmpty && isGate(other)) 1 else 0) +
        other.children.map(walk).sum
    }
    walk(plan)
  }

  test("prepareAndWrite: chunks land in the sink; no cache survives; output never cached") {
    val docs = T.documents(spark, "/root/testdata/sf0.01")
    val out = Files.createTempDirectory("graft_corpus_out").toString + "/chunks"
    val before = cachedRddIds

    // the chunk frame itself must not be cache-backed: the biggest frame
    // in the flow belongs in the sink, not executor storage
    val p = CorpusPipeline.prepare(docs)
    assert(p.chunks.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    // prepare materialized the quality gate's scores already (its one
    // evaluation of the gate): the blocks behind their truncated leaf are
    // persisted now, and unpersistAll below must free them
    val scoreRdds = p.scores.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(scoreRdds.nonEmpty && scoreRdds.forall(cachedRddIds.contains),
      s"the gate's scores are not materialized by prepare: $scoreRdds")
    // ...and the plan the sink writes evaluates the gate nowhere: counted
    // through every cache it reads (each cache once), no operator holds
    // the gate's punctuation-ratio regexp — both the gate join and
    // keep-best read prepare's scores
    assert(gateEvaluations(p.chunks.queryExecution.executedPlan) == 0,
      p.chunks.queryExecution.executedPlan.toString.take(2000))
    p.unpersistAll()
    assert(!scoreRdds.exists(cachedRddIds.contains),
      s"unpersistAll left the gate's scores persisted: $scoreRdds")

    val res = CorpusPipeline.prepareAndWrite(docs, out)
    assert(res.chunksWritten > 0)
    val written = spark.read.parquet(out)
    assert(written.count() == res.chunksWritten)
    assert(written.columns.toSet ==
      Set("doc_id", "chunk_id", "n_tokens", "chunk_text"))

    // every pipeline cache entry (candidates/confirmed/clusters front)
    // was released after the write action — nothing survives the run
    val leaked = cachedRddIds -- before
    assert(leaked.isEmpty, s"cache entries leaked past the run: $leaked")

    // content parity with the declared e38 flow (same geometry): the
    // sink path writes exactly what the hash-checked capstone declares
    val declared = CorpusPipeline.prepare(docs)
    val diff = written.unionAll(declared.chunks).groupBy("doc_id", "chunk_id")
      .count().filter(col("count") =!= 2).count()
    declared.unpersistAll()
    assert(diff == 0, s"$diff (doc_id, chunk_id) rows differ between sink and declared flow")
  }

  test("prepare spanTrimAt: wholesale near-copies drop before the paragraph pass; default unchanged") {
    import spark.implicits._
    // doc 1 and 2 share almost all their 5-token windows (one is a
    // near-verbatim copy); doc 3 is distinct. Texts are long/clean
    // enough to clear the quality gate.
    val base = (0 until 12).map(i => s"alpha$i beta$i gamma$i the a of").mkString(" ")
    val docs = Seq(
      (1L, base + " original tail words the of"),
      (2L, base + " copied tail words the of"),
      (3L, (0 until 12).map(i => s"unique$i fresh$i token$i the a of").mkString(" "))
    ).toDF("doc_id", "text")
    val trimmed = CorpusPipeline.prepare(docs, spanTrimAt = Some(0.8))
    val keptIds = trimmed.chunks.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    trimmed.unpersistAll()
    // both near-copies exceed 80% shared-window coverage -> both drop
    // (the gate is coverage-based, not survivor-picking: the fuzzy dedup
    // downstream owns keep-one semantics for milder overlap)
    assert(keptIds == Set(3L), s"expected only the distinct doc, got $keptIds")
    // default (None) leaves the historical stage list: the paragraph
    // pass strips the SHARED windows as boilerplate (after which the
    // remainders are distinct docs) — no doc is span-dropped
    val dflt = CorpusPipeline.prepare(docs)
    val dfltIds = dflt.chunks.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    dflt.unpersistAll()
    assert(dfltIds.contains(3L) && (dfltIds & Set(1L, 2L)).nonEmpty,
      s"default path must not span-drop: $dfltIds")
  }

  test("prepare surprisalFlagAt: high-surprisal docs drop before pairwise work; default unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // three docs clear the heuristic quality gate; doc 3's vocabulary is
    // all corpus-unique tokens, so its mean unigram surprisal is far
    // above the two docs built from each other's (shared) vocabulary
    val shared = (0 until 12).map(i => s"alpha$i beta$i gamma$i the a of").mkString(" ")
    val docs = Seq(
      (1L, shared + " original tail words the of"),
      (2L, shared + " copied tail words the of"),
      (3L, (0 until 12).map(i => s"unique$i fresh$i token$i the a of").mkString(" "))
    ).toDF("doc_id", "text")
    // locate a gate between the two surprisal regimes from the operator
    // itself (the spec stays true under corpus edits)
    val s = TextOps.unigramSurprisal(docs, "doc_id", "text", flagAboveMicro = 0L)
      .select("doc_id", "avg_surprisal_micro").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(3L) > s(1L).max(s(2L)), s"fixture regression: $s")
    val gate = (s(3L) + s(1L).max(s(2L))) / 2
    val gated = CorpusPipeline.prepare(docs, surprisalFlagAt = Some(gate))
    val keptIds = gated.chunks.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    gated.unpersistAll()
    assert(!keptIds.contains(3L) && keptIds.nonEmpty,
      s"gate $gate must drop the high-surprisal doc: kept $keptIds")
    // default (None) keeps the historical stage list — doc 3 survives
    val dflt = CorpusPipeline.prepare(docs)
    val dfltIds = dflt.chunks.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    dflt.unpersistAll()
    assert(dfltIds.contains(3L), s"default path must not surprisal-drop: $dfltIds")
  }

  test("prepare unicodeForm: canonical bytes reach every hash; default leaves bytes alone") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two docs visually identical, one carrying DECOMPOSED e+U+0301;
    // filler clears the heuristic quality gate
    val filler = (0 until 10).map(i => s"w$i the a of and").mkString(" ")
    val composed = s"café resumé $filler"
    val decomposed = s"café resumé $filler"
    assert(composed != decomposed) // distinct bytes, same rendering
    // the DECOMPOSED doc carries the smaller id, so it is the keep-best
    // survivor whether the pair collapses exactly (NFC on) or fuzzily
    // (off — 2 combining marks is within maxEdit); paraMaxDocs=2 keeps
    // the shared paragraphs out of the boilerplate counter's way
    val docs = Seq((1L, decomposed), (2L, composed)).toDF("doc_id", "text")
    // NFC on: the pair becomes byte-identical upstream of every
    // fingerprint — exact dedup collapses it, chunks are all-NFC
    val on = CorpusPipeline.prepare(docs, paraMaxDocs = 2, unicodeForm = Some("NFC"))
    val onIds = on.chunks.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val onTexts = on.chunks.select("chunk_text").collect().map(_.getString(0))
    on.unpersistAll()
    assert(onIds == Set(1L), s"NFC must collapse the pair to the min id: $onIds")
    assert(onTexts.nonEmpty && onTexts.forall(t =>
      java.text.Normalizer.isNormalized(t, java.text.Normalizer.Form.NFC)),
      "all sink text must be canonical NFC")
    // default: bytes pass through untouched (the historical stage list) —
    // the surviving doc's chunks still carry the decomposed sequence
    val off = CorpusPipeline.prepare(docs, paraMaxDocs = 2)
    val offTexts = off.chunks.filter(col("doc_id") === 1L)
      .select("chunk_text").collect().map(_.getString(0))
    off.unpersistAll()
    assert(offTexts.exists(_.contains("́")),
      "default path must not normalize the decomposed doc")
  }

  test("prepareAndWrite --shards: sharded sink holds the same chunks, doc-cohesive") {
    val docs = T.documents(spark, "/root/testdata/sf0.01")
    val flat = Files.createTempDirectory("graft_corpus_flat").toString + "/chunks"
    val shrd = Files.createTempDirectory("graft_corpus_shrd").toString + "/chunks"
    val before = cachedRddIds
    val a = CorpusPipeline.prepareAndWrite(docs, flat)
    val b = CorpusPipeline.prepareAndWrite(docs, shrd, shards = Some(4))
    assert(a.chunksWritten == b.chunksWritten, "sharding must not change content")
    assert((cachedRddIds -- before).isEmpty, "no cache survives the sharded run")

    val sharded = spark.read.parquet(shrd)
    // same (doc, chunk) set as the flat sink
    val diff = sharded.select("doc_id", "chunk_id")
      .unionAll(spark.read.parquet(flat).select("doc_id", "chunk_id"))
      .groupBy("doc_id", "chunk_id").count().filter(col("count") =!= 2).count()
    assert(diff == 0, s"$diff chunk rows differ between flat and sharded sinks")
    // doc cohesion: every chunk of a document lands in ONE shard
    val split = sharded.groupBy("doc_id")
      .agg(countDistinct(col("shard")).as("n_shards"))
      .filter(col("n_shards") > 1).count()
    assert(split == 0, s"$split documents split across shards")
  }

  test("pack-then-shard: trainer-ready sequences — budget, placement and assembly invariants") {
    val docs = T.documents(spark, "/root/testdata/sf0.01")
    val out = Files.createTempDirectory("graft_packed_out").toString + "/seqs"
    val before = cachedRddIds
    val budget = 256
    val res = CorpusPipeline.prepareAndWrite(docs, out,
      shards = Some(4), packBudget = Some(budget))
    assert(res.chunksWritten > 0)
    assert((cachedRddIds -- before).isEmpty, "no cache survives the packed run")

    val seqs = spark.read.parquet(out)
    assert(seqs.count() == res.chunksWritten)
    assert(seqs.columns.toSet == Set("bucket", "seq_id", "n_chunks", "seq_tokens",
      "first_doc", "last_doc", "text", "seq_key", "shard"))

    // budget invariants of greedy-sequential packing with chunks of at
    // most chunkTokens (the prepare() default geometry, 64): a sequence
    // overflows by at most one chunk (< budget + chunkTokens), and every
    // sequence except possibly the LAST of each bucket stream holds at
    // least budget - (chunkTokens - 1) tokens (its start can sit up to
    // chunkTokens - 1 past the boundary from the previous overflow, and
    // it runs to at least the next boundary)
    val chunkTokens = 64
    val over = seqs.filter(col("seq_tokens") >= budget + chunkTokens).count()
    assert(over == 0, s"$over sequences exceed the bounded-overflow budget")
    val maxSeq = seqs.groupBy("bucket").agg(max(col("seq_id")).as("last_seq"))
    val short = seqs.join(maxSeq, "bucket")
      .filter(col("seq_id") =!= col("last_seq"))
      .filter(col("seq_tokens") < budget - (chunkTokens - 1)).count()
    assert(short == 0, s"$short non-terminal sequences under the packing floor")

    // conservation: the sequences hold exactly the chunks the unpacked
    // flow writes — chunk count and token totals match
    val flat = Files.createTempDirectory("graft_packed_flat").toString + "/chunks"
    val f = CorpusPipeline.prepareAndWrite(docs, flat)
    val chunks = spark.read.parquet(flat)
    val Seq(nChunks, nTokens) = seqs
      .agg(sum(col("n_chunks")), sum(col("seq_tokens"))).head().toSeq.map(_.asInstanceOf[Long])
    assert(nChunks == f.chunksWritten, "every chunk packed exactly once")
    assert(nTokens == chunks.agg(sum(col("n_tokens"))).head().getLong(0),
      "token totals conserved through packing")

    // placement identity: shard == portableHash24(seq_key) % 4 (the e42
    // contract keyed on the sequence), so placement is reproducible
    val mism = seqs.withColumn("expected",
        (Dedup.portableHash24(col("seq_key")) % 4).cast("int"))
      .filter(col("shard") =!= col("expected")).count()
    assert(mism == 0, s"$mism sequences placed off the e42 contract")

    // assembled text is real: token count of the text equals seq_tokens
    val badText = seqs.filter(
      size(split(col("text"), " ")) =!= col("seq_tokens")).count()
    assert(badText == 0, s"$badText sequences whose text disagrees with seq_tokens")
  }

  test("assembleSequences adds no exchange past the packing window") {
    val docs = T.documents(spark, sf001)
    val packed = TextOps.packSequences(
      TextOps.chunk(docs, "doc_id", "text", chunkTokens = 64, overlapTokens = 0),
      "doc_id", "chunk_id", "n_tokens", budget = 256, buckets = 8)
    val seqs = CorpusPipeline.assembleSequences(packed, "doc_id", "chunk_id", "n_tokens")
    val plan = seqs.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"sequence assembly must reuse the packing window's bucket partitioning " +
        s"(ONE exchange total), got $exchanges:\n${plan.take(2000)}")
  }

  test("assembleTokenSequences: id conservation, per-sequence integrity, no exchange past the window") {
    val docs = T.documents(spark, sf001)
    val model = TextOps.bpeFit(docs, "text", rounds = 3)
    val enc = TextOps.bpeEncode(docs, "doc_id", "text", model)
      .withColumn("part", lit(0))
    def build(e: org.apache.spark.sql.DataFrame) =
      CorpusPipeline.assembleTokenSequences(
        TextOps.packSequences(e, "doc_id", "part", "n_subwords",
          budget = 512, buckets = 8, keep = Seq("token_ids")),
        "doc_id", "part", "n_subwords", "token_ids")

    // plan shape on the uncached flow: the encode reassembly exchange +
    // the packing window's bucket exchange, and NOTHING more — the
    // sequence collapse reuses the window's partitioning
    val plan = build(enc).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2,
      s"token-sequence assembly must add no exchange past the packing window " +
        s"(encode reassembly + window = TWO total), got $exchanges:\n${plan.take(2000)}")

    val encC = enc.cache()
    val seqs = build(encC).cache()
    try {
      // conservation: every encoded subword lands in exactly one sequence
      val totalSub = encC.agg(sum(col("n_subwords"))).head().getLong(0)
      assert(seqs.agg(sum(col("seq_tokens"))).head().getLong(0) == totalSub,
        "seq_tokens totals conserved through packing")
      assert(seqs.filter(size(col("token_ids")) =!= col("seq_tokens")).count() == 0,
        "every sequence's id stream length equals its token count")
      assert(seqs.agg(sum(col("n_items"))).head().getLong(0) == encC.count(),
        "every encoded document packed exactly once")
      // exact stream reconstruction: replay the packing identity on the
      // driver (portable 60-bit bucket hash, per-bucket doc-order
      // cumulative sum, budget division) and demand every sequence's id
      // stream byte-for-byte
      def h60(s: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(d.take(15), 16)
      }
      val encRows = encC.select(col("doc_id"), col("n_subwords"), col("token_ids"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      val assigned = encRows.groupBy { case (d0, _, _) => h60(d0.toString) % 8 }
        .toSeq.flatMap { case (bucket, rows) =>
          var before = 0L
          rows.sortBy(_._1).map { case (d0, n, ids) =>
            val seq = before / 512; before += n; ((bucket, seq), (d0, ids))
          }
        }
      val expected = assigned.groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).sortBy(_._1).flatMap(_._2) }
      val actual = seqs.select(col("bucket"), col("seq_id"), col("token_ids"))
        .collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getSeq[Long](2).toSeq)
        .toMap
      assert(actual.keySet == expected.keySet, "sequence identities match the replay")
      expected.foreach { case (k, ids) =>
        assert(actual(k) == ids, s"sequence $k id stream matches the driver replay")
      }
    } finally { seqs.unpersist(); encC.unpersist(); () }
  }

  test("writeSharded: shard dirs partition the corpus exactly as the e42 contract") {
    val docs = T.documents(spark, "/root/testdata/sf0.01")
    val out = Files.createTempDirectory("graft_shard_out").toString + "/shards"
    val res = CorpusPipeline.writeSharded(docs, out, nShards = 4)
    assert(res.chunksWritten == docs.count(), "every row placed exactly once")

    val back = spark.read.parquet(out)
    assert(back.count() == res.chunksWritten)
    // the partition column materializes the placement; it must equal the
    // declared rank flavor's shard assignment row for row
    val expected = Sampling.shardAssign(docs, "doc_id", nShards = 4)
      .select(col("doc_id"), col("shard").as("expected_shard"))
    val mism = back.select(col("doc_id"), col("shard"))
      .join(expected, "doc_id")
      .filter(col("shard") =!= col("expected_shard")).count()
    assert(mism == 0, s"$mism rows landed in a different shard than e42 assigns")
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == (0 until 4).map(i => s"shard=$i").toSet, s"got $dirs")
  }
}
