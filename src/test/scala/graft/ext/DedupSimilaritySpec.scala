package graft.ext

import graft.{SparkSpec, Tables => T}
import org.apache.spark.sql.functions._

/** E1-E3 behavior and the sketch-vs-exact recall bounds (all
  * deterministic: fixed hash families / fixed hyperplane seed, so these
  * bounds are exact regression checks, not flaky statistics). */
class DedupSimilaritySpec extends SparkSpec {

  private lazy val docs = T.documents(spark, sf001).cache()
  private lazy val embs = T.embeddings(spark, sf001).cache()

  test("centroid drift: hand-computed per-component means and micro shift") {
    import spark.implicits._
    val before = Seq(Array(1.0f, 3.0f), Array(3.0f, 5.0f)).toDF("embedding")
    val after = Seq(Array(0.0f, 2.0f)).toDF("embedding")
    val out = Similarity.centroidDrift(before, after, "embedding")
      .orderBy("i").as[(Int, Double, Double, Long)].collect().toSeq
    assert(out === Seq(
      (0, 2.0, 0.0, 2000000L),
      (1, 4.0, 2.0, 2000000L)))
    // drift against itself is exactly zero in every component
    val self = Similarity.centroidDrift(before, before, "embedding")
      .agg(sum("shift_micro")).as[Long].collect().head
    assert(self === 0L)
  }

  test("E1: exact dedup is idempotent and keyed") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "a"), (3, "b")).toDF("id", "k")
    val once = Dedup.exact(df, Seq("k"))
    assert(once.count() == 2)
    assert(Dedup.exact(once, Seq("k")).count() == 2)
  }

  test("E1: paragraph dedup drops cross-doc boilerplate, keeps within-doc repeats") {
    import spark.implicits._
    // 4-token paragraphs. "h1 h2 h3 h4" is boilerplate (3 docs); doc 3
    // repeats its own unique paragraph twice (kept: distinct-doc count
    // is 1); doc 4 is ALL boilerplate (reassembles to empty text)
    val df = Seq(
      (1L, "h1 h2 h3 h4 a1 a2 a3 a4"),
      (2L, "h1 h2 h3 h4 b1 b2 b3 b4"),
      (3L, "c1 c2 c3 c4 c1 c2 c3 c4"),
      (4L, "h1 h2 h3 h4")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text", paraTokens = 4, maxDocs = 1)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq == Seq(
      (1L, "a1 a2 a3 a4", 1L, 1L),
      (2L, "b1 b2 b3 b4", 1L, 1L),
      (3L, "c1 c2 c3 c4 c1 c2 c3 c4", 2L, 0L),
      (4L, "", 0L, 1L)))
    // scale shape: the hot-fingerprint set joins back as a BROADCAST
    val plan = Dedup.paragraphDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"hot set must broadcast, plan:\n${plan.take(2000)}")
  }

  test("E1: paragraph dedup property — reassembly invariants at random corpora") {
    import org.scalacheck.Gen
    import spark.implicits._
    // small vocab + short paragraphs force cross-doc paragraph collisions
    val word = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = Gen.choose(2, 12).flatMap(k => Gen.listOfN(k, docGen))
    val seed0 = org.scalacheck.rng.Seed(11L)
    Iterator.iterate(seed0)(_.next).take(15).foreach { seed =>
      corpus.apply(Gen.Parameters.default, seed).foreach { texts =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val paraTokens = 4
        val out = Dedup.paragraphDedup(df, "doc_id", "text", paraTokens, maxDocs = 1)
          .orderBy("doc_id")
          .as[(Long, String, Long, Long)].collect().toList
        assert(out.map(_._1) == texts.indices.map(_.toLong).toList, "one row per doc")
        // reference restatement: split, count distinct docs per para, drop hot
        val paras: Map[Long, Seq[String]] = texts.zipWithIndex.map { case (t, i) =>
          i.toLong -> t.split(' ').grouped(paraTokens).map(_.mkString(" ")).toSeq
        }.toMap
        val hot = paras.toSeq.flatMap { case (id, ps) => ps.distinct.map(p => (p, id)) }
          .groupBy(_._1).filter(_._2.size > 1).keySet
        out.foreach { case (id, clean, nKept, nDropped) =>
          val ps = paras(id)
          val kept = ps.filterNot(hot.contains)
          assert(nKept + nDropped == ps.size, "every paragraph accounted for")
          assert(nKept == kept.size && clean == kept.mkString(" "),
            s"doc $id: reassembly must be the kept paragraphs in order")
        }
      }
    }
  }

  test("bloom decontamination property — equals the exact report at random corpora") {
    import org.scalacheck.Gen
    import spark.implicits._
    // small vocab forces real shingle overlap between the two sources;
    // tiny filters (64–4096 bits) force false positives through the
    // bloom so the exact confirm join is actually exercised
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = Gen.choose(3, 20).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = Gen.choose(3, 10).flatMap(k => Gen.listOfN(k, docGen))
    val seed0 = org.scalacheck.rng.Seed(29L)
    Iterator.iterate(seed0)(_.next).take(10).zipWithIndex.foreach { case (seed, it) =>
      corpus.apply(Gen.Parameters.default, seed).foreach { texts =>
        val df = texts.zipWithIndex.map { case (t, i) =>
          (i.toLong, t, if (i % 2 == 0) "train" else "eval")
        }.toDF("doc_id", "text", "source")
        val bits = Seq(64L, 512L, 4096L)(it % 3)
        def report(d: org.apache.spark.sql.DataFrame) = d
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
        val exact = report(Dedup.contaminationOverlap(
          df, "doc_id", "text", "source", "eval", "train", 3, 0.0))
        val bloom = report(Dedup.bloomDecontaminate(
          df, "doc_id", "text", "source", "eval", "train", 3, 0.0,
          estItems = 8, numBits = bits))
        assert(bloom == exact, s"bits=$bits corpus=${texts.take(3)}…")
      }
    }
  }

  test("E2: identical documents get identical MinHash signatures and SimHash 0 distance") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
                 (2L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val sigs = Dedup.portableSignatures(df, "doc_id", "text", k = 16, shingleWidth = 3)
      .select("sig").collect().map(_.getSeq[Long](0))
    assert(sigs.length == 2 && sigs(0) == sigs(1))
    val sh = df.select(Dedup.simhashPortable(col("text")).as("sh")).collect().map(_.getLong(0))
    assert(sh(0) == sh(1))
  }

  test("native shingle/token hashes equal the HOF formulation element-for-element") {
    // shingle ranges: hashing the byte range must equal hashing the
    // concat_ws-joined words (single-space separators reproduce bytes)
    val shMismatch = docs.select(
      array_sort(array_distinct(Dedup.shingleHashes(col("text"), 3))).as("nat"),
      array_sort(transform(Dedup.shingles(col("text"), 3), s => xxhash64(s))).as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(shMismatch == 0)
    val tokMismatch = docs.select(
      call_function("graft_portable_words", col("text")).as("nat"),
      transform(split(col("text"), " "), w => Dedup.portableHash64(w)).as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(tokMismatch == 0)
    // short-document rule: fewer than n words → one whole-text hash
    import spark.implicits._
    val short = Seq(Tuple1("two words")).toDF("text")
      .select(Dedup.shingleHashes(col("text"), 3).as("h"),
        array(xxhash64(col("text"))).as("expect"))
      .filter(col("h") =!= col("expect")).count()
    assert(short == 0)
  }

  test("native portable word hashes equal the HOF md5 formulation element-for-element") {
    val mismatch = docs.select(
      call_function("graft_portable_words", col("text")).as("nat"),
      transform(split(col("text"), " "), w => Dedup.portableHash64(w)).as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(mismatch == 0)
    // trailing/repeated spaces: split keeps empties (limit -1) and the
    // native tokenizer must agree on them
    import spark.implicits._
    val edge = Seq("a  b ", " x", "").toDF("text")
    val bad = edge.select(
      call_function("graft_portable_words", col("text")).as("nat"),
      transform(split(col("text"), " "), w => Dedup.portableHash64(w)).as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(bad == 0)
  }

  test("native 60-bit window hashes equal the HOF md5 formulation element-for-element") {
    val k = 5
    // the oracle-side formulation: space-joined k-token windows (short
    // docs collapse to one whole-text window via the concat_ws NULL
    // skip), portableHash64 of each
    def hof(text: org.apache.spark.sql.Column) = {
      val words = split(text, " ")
      transform(
        sequence(lit(1), greatest(size(words) - (k - 1), lit(1))),
        i => Dedup.portableHash64(concat_ws(" ",
          (0 until k).map(j => try_element_at(words, i + j)): _*)))
    }
    val mismatch = docs.select(
      call_function("graft_portable_shingles64", col("text"), lit(k)).as("nat"),
      hof(col("text")).as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(mismatch == 0)
  }

  test("E2: MinHash-LSH recall vs exact Jaccard pairs (threshold 0.5)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidatesPortable(docs, "doc_id", "text", k = 32, bands = 8, minEstSim = 0.4)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup docs")
    val recall = (exact intersect cand).size.toDouble / exact.size
    assert(recall >= 0.8, s"minhash recall $recall < 0.8 (found ${cand.size} candidates)")
  }

  test("E2: SimHash candidates find the exact near-dups' cores") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.simhashCandidates(docs, "doc_id", "text", chunks = 4, maxHamming = 3)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall =
      if (exact.isEmpty) 1.0 else (exact intersect cand).size.toDouble / exact.size
    assert(recall >= 0.5, s"simhash recall $recall < 0.5 on ${exact.size} strong pairs")
  }

  test("E3: annRecall — exhaustive probing recovers 1.0; probed recall is n_hit/k") {
    val qs = embs.filter(col("vec_id") < 10)
    // nprobe = nlist scans every cell → the candidate set IS the corpus
    // minus self, so the IVF arm equals brute force and recall is exact 1
    val full = Similarity.annRecall(embs, qs, k = 5, nlist = 8, nprobe = 8,
      lloydIters = 1).collect()
    assert(full.length == 10)
    assert(full.forall(_.getAs[Long]("n_true") == 5L))
    assert(full.forall(_.getAs[Double]("recall") == 1.0))
    // the declared e77 geometry: recall is the exact hit ratio, bounded
    val probed = Similarity.annRecall(embs, qs, k = 5, nlist = 16, nprobe = 4,
      lloydIters = 2).collect()
    assert(probed.length == 10)
    assert(probed.forall { r =>
      val rec = r.getAs[Double]("recall")
      rec >= 0.0 && rec <= 1.0 && rec == r.getAs[Long]("n_hit").toDouble / 5.0
    })
  }

  test("near-dup clusters: connected components labels every node with its component min") {
    import spark.implicits._
    // chain, pair, and cycle — including a component whose min enters late;
    // the star loop itself (driver finish off: this graph would fit it)
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (22L, 20L), (21L, 22L), (20L, 21L))
      .toDF("doc1", "doc2")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs, driverBound = 0)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rounds > 0)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    labels.unpersist()
  }

  test("connected components contract a 64-doc chain in O(log diameter) rounds") {
    import spark.implicits._
    // diameter-63 chain: min-label propagation needs 63 rounds (and
    // would bail at maxIter=20 with wrong far labels); the large-star/
    // small-star alternation must converge correctly in O(log) rounds.
    // Driver finish off, else the chain is labelled in 0 rounds.
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(chain, maxIter = 20,
      driverBound = 0)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == (1L to 64L).map(i => (i, 1L)), got.take(8).toString)
    assert(rounds <= 10, s"expected O(log diameter) rounds, got $rounds")
    labels.unpersist()
  }

  test("connected components: the driver finish labels exactly as the star loop") {
    import spark.implicits._
    // ~100 components in disjoint id ranges — chains, stars, cycles and
    // random connected graphs — with shuffled ids inside each range (the
    // minimum is not the first id), self-pairs (also on ids with no
    // other edge, which neither path labels), duplicate and reversed
    // edges, all in ONE frame so each path runs once
    val rnd = new scala.util.Random(16L)
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    val pairs = (0 until 100).flatMap { c =>
      val n = 2 + rnd.nextInt(12)
      val ids = rnd.shuffle((0 until n).map(i => c * 1000L + 10 + 7 * i))
      ids.foreach(id => expected(id) = ids.min)
      val edges = (c % 4) match {
        case 0 => ids.sliding(2).map(w => (w(0), w(1))).toSeq
        case 1 => ids.tail.map(id => (ids.head, id))
        case 2 => ids.sliding(2).map(w => (w(0), w(1))).toSeq :+ ((ids.last, ids.head))
        case _ => ids.indices.tail.map(i => (ids(rnd.nextInt(i)), ids(i))) ++
          Seq.fill(n)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
      }
      val extra = Seq((ids.head, ids.head), edges.head, edges.head.swap) ++
        (if (c % 5 == 0) Seq((c * 1000L + 999, c * 1000L + 999)) else Nil)
      (edges ++ extra).map(e => if (rnd.nextBoolean()) e.swap else e)
    }
    val df = rnd.shuffle(pairs).toDF("doc1", "doc2")
    def labelled(driverBound: Int) = {
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(df,
        driverBound = driverBound)
      val rows = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val schema = labels.schema
      labels.unpersist()
      (rows, schema, rounds)
    }
    val (onDriver, driverSchema, driverRounds) = labelled(Dedup.DriverFinishEdges)
    val (distributed, loopSchema, loopRounds) = labelled(0)
    assert(driverRounds == 0 && loopRounds > 0, s"$driverRounds / $loopRounds")
    assert(driverSchema == loopSchema, s"$driverSchema != $loopSchema")
    assert(distributed == expected.toMap)
    assert(onDriver == distributed)
  }

  test("dedupPipeline shares one persisted candidate front across all stages") {
    import spark.implicits._
    val scores = docs.select(col("doc_id"), lit(1.0).as("score"))
    val p = Dedup.dedupPipeline(docs, "doc_id", "text", scores)
    try {
      // the confirmation stage scans the persisted candidate frame, not
      // a recomputed shingle/signature/band front: the confirmed cache's
      // own operators — its plan down to, not into, the caches it scans —
      // compute no shingles
      import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      def kids(plan: SparkPlan): Seq[SparkPlan] = plan match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      def cacheScans(plan: SparkPlan): Seq[InMemoryTableScanExec] = plan match {
        case s: InMemoryTableScanExec => Seq(s)
        case other => kids(other).flatMap(cacheScans)
      }
      def ownNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
        case _: InMemoryTableScanExec => Nil
        case other => other +: kids(other).flatMap(ownNodes)
      }
      val confirmedScan = cacheScans(p.confirmed.queryExecution.executedPlan)
      assert(confirmedScan.nonEmpty, p.confirmed.queryExecution.executedPlan.toString.take(400))
      val confirmStage = confirmedScan.head.relation.cachedPlan
      assert(cacheScans(confirmStage).nonEmpty, confirmStage.toString.take(400))
      assert(!ownNodes(confirmStage).exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.PortableShingleHashes]))),
        "confirm stage must reuse the cached front, not recompute signatures")
      // this graph fits the CC driver finish: kept reads the driver-built
      // clusters (a local scan) and computes no shingles or signatures
      val keptPlan = p.kept.queryExecution.executedPlan
      assert(ownNodes(keptPlan).exists(_.isInstanceOf[LocalTableScanExec]),
        keptPlan.toString.take(400))
      assert(!ownNodes(keptPlan).exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.PortableShingleHashes]))),
        "kept must not recompute the candidate front")
      // stage consistency: every kept row's cluster has >= 2 members
      // (singletons are omitted by CC), and keep_id is a cluster member
      val kept = p.kept.collect()
      assert(kept.nonEmpty)
      assert(kept.forall(_.getLong(3) >= 2L))
      val members = p.clusters.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(kept.forall(r => members.contains((r.getLong(1), r.getLong(0)))))
      // confirmation is strictly a subset of candidates
      assert(p.confirmed.count() <= p.candidates.count())
    } finally p.unpersistAll()
  }

  test("connected components on an empty pair set returns empty, not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc1", "doc2")
    assert(Dedup.connectedComponents(empty).count() == 0)
    // the star loop too, with the same empty, typed frame
    val onDriver = Dedup.connectedComponents(empty)
    val loop = Dedup.connectedComponentsWithRounds(empty, driverBound = 0)._1
    assert(loop.count() == 0 && loop.schema == onDriver.schema)
    loop.unpersist()
  }

  test("maxDf drops hot shingles from intersections but not from set sizes") {
    import spark.implicits._
    // "h c t" appears in all 4 docs (df=4); "p q r" only in docs 1,2
    // (df=2); every other 3-gram is unique. 6 distinct shingles per doc.
    val df = Seq(
      (1L, "h c t a1 b1 p q r"), (2L, "h c t a2 b2 p q r"),
      (3L, "h c t a3 b3 x3 y3 z3"), (4L, "h c t a4 b4 x4 y4 z4"))
      .toDF("doc_id", "text")
    def pairs(maxDf: Int) =
      Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.0, maxDf)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // unbounded: all 6 pairs share at least the hot shingle
    val unbounded = pairs(Int.MaxValue)
    assert(unbounded.size == 6)
    assert(unbounded((1L, 2L)) == 2.0 / 10.0) // i=2 ("h c t","p q r")
    assert(unbounded((3L, 4L)) == 1.0 / 11.0) // i=1 (hot shingle only)
    // maxDf=3 drops the df=4 hot shingle: only (1,2) still intersects,
    // and its union STILL counts the dropped shingle in both set sizes
    // (1/11, not 1/9) — dropping bounds work, it must not shrink sets
    val bounded = pairs(3)
    assert(bounded.keySet == Set((1L, 2L)))
    assert(bounded((1L, 2L)) == 1.0 / 11.0)
    // maxDf=4 re-admits it: identical to unbounded on this corpus
    assert(pairs(4) == unbounded)
  }

  test("maxDf surfaces dropped posting lists on stderr when the bound bites") {
    import spark.implicits._
    val df = Seq(
      (1L, "h c t a1 b1 p q r"), (2L, "h c t a2 b2 p q r"),
      (3L, "h c t a3 b3 x3 y3 z3"), (4L, "h c t a4 b4 x4 y4 z4"))
      .toDF("doc_id", "text")
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try {
      Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.0, maxDf = 3).collect()
      // the observe metric is delivered via the (async) listener bus
      val deadline = System.currentTimeMillis() + 15000
      while (!buf.toString.contains("maxDf dropped") &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally System.setErr(prev)
    assert(buf.toString.contains("jaccardPairs maxDf dropped 1 hot posting list"),
      s"expected a drop warning, stderr was: ${buf.toString.take(500)}")
    assert(buf.toString.contains("largest held 4 docs"))
    // a bound that doesn't bite stays silent
    val buf2 = new java.io.ByteArrayOutputStream()
    System.setErr(new java.io.PrintStream(buf2, true))
    try {
      Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.0, maxDf = 4).collect()
      Thread.sleep(500)
    } finally System.setErr(prev)
    assert(!buf2.toString.contains("maxDf dropped"), buf2.toString.take(500))
  }

  test("keepBest picks the highest-scoring cluster member, ties to smallest id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_rep")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (7L, 0.1), (8L, 0.1))
      .toDF("doc_id", "score")
    val out = Dedup.keepBest(clusters, scores)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // cluster 1: docs 2 and 3 tie at 0.9 -> smallest id (2) wins, size 3
    // cluster 7: docs 7 and 8 tie at 0.1 -> 7 wins, size 2
    assert(out == Seq((1L, 2L, 0.9, 3L), (7L, 7L, 0.1, 2L)), out.toString)
    // members MISSING from scores still count toward n_members and rank
    // last — an inner join would silently delete them
    val partial = Dedup.keepBest(clusters, scores.filter(col("doc_id") =!= 3L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1).toSeq
    assert(partial == Seq((1L, 2L, 3L), (7L, 7L, 2L)), partial.toString)
    // a cluster whose members are ALL unscored keeps its smallest id
    val none = Dedup.keepBest(clusters.filter(col("cluster_rep") === 7L),
      scores.filter(col("doc_id") < 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(none == Seq((7L, 7L, 2L)), none.toString)
    // duplicate id rows in `scores` must not multiply cluster members:
    // n_members stays the true cluster size and the id's best score wins
    val dup = Dedup.keepBest(clusters,
      scores.unionAll(Seq((2L, 0.2), (2L, 0.7)).toDF("doc_id", "score")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(dup == Seq((1L, 2L, 0.9, 3L), (7L, 7L, 0.1, 2L)), dup.toString)
  }

  test("repetition stats: duplicate n-gram fractions per position") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a"),   // tokens 3/5 dup; 2-grams 2/4 dup; 3-grams 1/3 dup
      (2L, "p q r s t"),   // no repetition anywhere
      (3L, "x"))           // shorter than n: one whole-text shingle, 0 ratios
      .toDF("doc_id", "text")
    val out = TextOps.repetitionStats(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0),
        (r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((0.5, 1.0 / 3, 0.6)), out(1L).toString)
    assert(out(2L) == ((0.0, 0.0, 0.0)))
    assert(out(3L) == ((0.0, 0.0, 0.0)))
  }

  test("contamination overlap counts eval shingles found in the train source") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e", "train"),   // shingles: abc bcd cde
      (10L, "a b c x y", "eval"),   // abc bcx cxy -> 1/3 contaminated
      (11L, "p q r s t", "eval"))   // no overlap -> overlap 0 at thr 0.0
      .toDF("doc_id", "text", "source")
    def run(thr: Double) = Dedup.contaminationOverlap(
      df, "doc_id", "text", "source", "eval", "train", 3, thr)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // threshold 0.0 includes zero-overlap docs (left-join contract: every
    // eval doc at/above the threshold, and overlap 0 satisfies 0.0)
    val any = run(0.0)
    assert(any.toSeq == Seq((10L, 3, 1L, 1.0 / 3), (11L, 3, 0L, 0.0)),
      s"threshold 0.0 must keep zero-overlap docs: ${any.mkString(",")}")
    assert(run(0.3).length == 1 && run(0.4).isEmpty)
    // duplicate eval doc ids collapse to ONE distinct shingle set per id
    // (the oracle's DISTINCT semantics): hits must not double-count
    val dup = Dedup.contaminationOverlap(
      df.unionAll(df.filter(col("doc_id") === 10)),
      "doc_id", "text", "source", "eval", "train", 3, 0.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(dup.toSeq == Seq((10L, 3, 1L, 1.0 / 3), (11L, 3, 0L, 0.0)),
      s"${dup.mkString(",")}")
  }

  test("bloom decontamination equals the exact report; tiny filter still exact") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e", "train"),   // shingles: abc bcd cde
      (10L, "a b c x y", "eval"),   // abc bcx cxy -> 1/3 contaminated
      (11L, "p q r s t", "eval"))   // no overlap -> overlap 0 at thr 0.0
      .toDF("doc_id", "text", "source")
    def exact(thr: Double) = Dedup.contaminationOverlap(
      df, "doc_id", "text", "source", "eval", "train", 3, thr)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    def bloom(thr: Double, bits: Long) = Dedup.bloomDecontaminate(
      df, "doc_id", "text", "source", "eval", "train", 3, thr,
      estItems = 16, numBits = bits)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(bloom(0.0, 1L << 16) == exact(0.0))
    assert(bloom(0.3, 1L << 16) == exact(0.3))
    // a DELIBERATELY saturated filter (64 bits for 3 shingles at k
    // hashes) false-positives aggressively — the exact confirm join must
    // still produce the identical report
    assert(bloom(0.0, 64L) == exact(0.0),
      "false positives must never reach the report")
    // empty train source: every eval doc reports overlap 0 at thr 0.0
    val noTrain = Dedup.bloomDecontaminate(
      df.filter(col("source") =!= "train"), "doc_id", "text", "source",
      "eval", "train", 3, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(noTrain.toSeq == Seq((10L, 0L, 0.0), (11L, 0L, 0.0)),
      s"empty train must zero every overlap: ${noTrain.mkString(",")}")
  }

  test("bloom decontamination on the corpus matches the exact path; probe rides the scan") {
    // real-corpus equality: same sources, same width — the bloom prune +
    // semi-join must reproduce contaminationOverlap row-for-row (doc ids
    // unique in testdata, so both denominator semantics coincide)
    val exact = Dedup.contaminationOverlap(
      docs, "doc_id", "text", "source", "src1", "src0", 3, 0.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    val viaBloom = Dedup.bloomDecontaminate(
      docs, "doc_id", "text", "source", "src1", "src0", 3, 0.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(viaBloom == exact)
    // the probe is a map-side predicate (might_contain in the plan), and
    // the train side is aggregated, never distinct-exchanged
    val plan = Dedup.bloomDecontaminate(
      docs, "doc_id", "text", "source", "src1", "src0", 3, 0.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom probe missing from the physical plan:\n$plan")
  }

  test("hybrid rrf: fusion equals a scala restatement of the two legs") {
    val k = 10
    val poolK = 50
    val terms = Seq("vector", "scan")
    val lex = TextOps.bm25TopK(docs, "doc_id", "text", terms, poolK)
      .select("doc_id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vec = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") === 0), poolK)
      .select("vec_id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (lex.keySet ++ vec.keySet).toSeq
      .map { id =>
        val rrf = lex.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L) +
          vec.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L)
        (id, lex.getOrElse(id, -1L), vec.getOrElse(id, -1L), rrf)
      }
      .sortBy(t => (-t._4, t._1)).take(k)
      .zipWithIndex.map { case ((id, l, v, r), i) => (id, l, v, r, i + 1L) }
    val out = Similarity.hybridRrfTopK(docs, embs, "doc_id", "text",
      terms, queryVecId = 0L, k = k, poolK = poolK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._5).toSeq
    assert(out == expected, s"\ngot:      $out\nexpected: $expected")
    // both legs actually contribute to the fused pool (not one leg
    // trivially dominating an empty other)
    assert(out.exists(_._2 > 0) && out.exists(_._3 > 0))
  }

  test("hybrid rrf with the persisted index leg: fusion equals a scala restatement") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rrf_idx").toString
    Similarity.buildIndex(embs, dir, nlist = 16, m = 16, ksub = 16, pqIters = 1)
    val idx = Similarity.loadIndex(spark, dir)
    val vecLeg = Similarity.queryIndex(idx, embs.filter(col("vec_id") === 3), k = 7)
      .select("vec_id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lexLeg = TextOps.bm25TopK(docs, "doc_id", "text", Seq("hash"), 20)
      .select("doc_id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (lexLeg.keySet ++ vecLeg.keySet).toSeq
      .map { id =>
        val rrf = lexLeg.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L) +
          vecLeg.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L)
        (id, lexLeg.getOrElse(id, -1L), vecLeg.getOrElse(id, -1L), rrf)
      }
      .sortBy(t => (-t._4, t._1)).take(5)
      .zipWithIndex.map { case ((id, l, v, r), i) => (id, l, v, r, i + 1L) }
    import spark.implicits._
    val lex = lexLeg.toSeq.toDF("doc_id", "lex_rn")
    val vec = vecLeg.toSeq.toDF("doc_id", "vec_rn")
    val out = Similarity.rrfFuse(lex, vec, "doc_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._5).toSeq
    assert(out == expected, s"\ngot:      $out\nexpected: $expected")
  }

  test("jaccard pairs stay strictly ordered even with duplicate doc ids in the input") {
    import spark.implicits._
    val df = Seq((7L, "a b c d e"), (7L, "a b c d e"), (8L, "x y z w v"))
      .toDF("doc_id", "text")
    val out = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.0).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1)),
      s"self-pairs leaked: ${out.mkString(",")}")
  }

  test("E3: LSH top-k recall vs brute force") {
    val q = embs.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(embs, q, 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // The synthetic embeddings are near-random gaussians (max pairwise
    // cos ≈ 0.51), so nearest neighbors are barely tighter than chance
    // and recall tracks the candidate fraction (~28% at 8×8 with
    // hamming-1 probes). 0.5 is the measured deterministic value with
    // margin; on corpora with real cluster structure recall is far
    // higher at the same cost.
    val lsh = Similarity.lshTopK(embs, q, 5, planes = 8, dim = 64, tables = 8)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"lsh recall $recall < 0.5")
    // every LSH hit must rank correctly: cosine of any reported pair is real
    assert(lsh.forall { case (a, b) => a != b })
  }

  test("E3: IVF top-k recall vs brute force") {
    val q = embs.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(embs, q, 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe/nlist = 1/4 of the corpus scanned; near-random corpus →
    // recall tracks that fraction (same caveat as the LSH bound above).
    val ivf = Similarity.ivfTopK(embs, q, 5, nlist = 16, nprobe = 4)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"ivf recall $recall < 0.3")
    assert(ivf.size == 50, s"expected full k×queries output, got ${ivf.size}")
    // the Lloyd refinement pass (default lloydIters=1) must not cost
    // recall vs the raw md5-drawn seeds (verdict r3 item 7: better cells,
    // same determinism)
    val raw = Similarity.ivfTopK(embs, q, 5, nlist = 16, nprobe = 4, lloydIters = 0)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawRecall = (brute intersect raw).size.toDouble / brute.size
    assert(recall >= rawRecall,
      s"Lloyd refinement regressed recall: $recall < $rawRecall")
  }

  test("E3: IVF native-cell path matches the literal path; large nlist stays compact") {
    val q = embs.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // literalNlistMax=0 forces the native IvfCells expression at nlist=16:
    // ranking must be bit-identical to the literal projection
    val lit16 = rows(Similarity.ivfTopK(embs, q, 5, nlist = 16, nprobe = 4))
    val nat16 = rows(Similarity.ivfTopK(embs, q, 5, nlist = 16, nprobe = 4,
      literalNlistMax = 0))
    assert(lit16 == nat16)
    // nlist above the 256 default takes the native path: the plan
    // carries the centroid matrix as one reference object
    // (graft_ivf_cells), not hundreds of per-centroid literal dots
    val big = Similarity.ivfTopK(embs, q, 5, nlist = 300, nprobe = 16)
    val p = big.queryExecution.executedPlan.toString
    assert(p.contains("graft_ivf_cells"), s"native cell expr missing:\n${p.take(2000)}")
    assert("graft_dot_f32".r.findAllMatchIn(p).size <= 8,
      "per-centroid literal dots leaked into the large-nlist plan")
    val bigRows = rows(big)
    assert(bigRows.nonEmpty && bigRows.map(_._1).distinct.size == 10)
    // O(1) plan/codegen size vs nlist (the e28 contract): the 512-cell
    // plan text is no larger than the 16-cell native plan beyond a small
    // constant — the matrix rides as a reference object, never as plan
    // text, so codegen never hits Janino's constant-pool/method limits.
    val nat16Plan = Similarity.ivfTopK(embs, q, 5, nlist = 16, nprobe = 4,
      literalNlistMax = 0).queryExecution.executedPlan.toString
    val nat512Plan = Similarity.ivfTopK(embs, q, 5, nlist = 512, nprobe = 8,
      lloydIters = 0).queryExecution.executedPlan.toString
    assert(nat512Plan.contains("graft_ivf_cells"))
    assert(nat512Plan.length <= nat16Plan.length * 2,
      s"plan text grew with nlist: 16→${nat16Plan.length} chars, 512→${nat512Plan.length}")
  }

  test("E3: native int8 quantizer is bit-equal to the HOF formulation") {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType}
    val xd = (x: org.apache.spark.sql.Column) => x.cast(DoubleType)
    val ma = array_max(transform(col("embedding"), x => abs(xd(x))))
    val hof = when(ma === 0.0, transform(col("embedding"), _ => lit(0f)))
      .otherwise(transform(col("embedding"),
        x => (xd(x) * 127.0 / ma).cast(IntegerType).cast(FloatType)))
    val nullF = lit(null).cast(FloatType)
    val edgeVecs = spark.range(1).select(lit(9999L).as("vec_id"),
      array(lit(0f), lit(-0f), lit(0f)).as("embedding"))
      // null-bearing shapes (the embeddings parquet declares nullable
      // elements, so containsNull=true is the production input type):
      // mixed null, all-null, and zero-scale-with-null
      .unionByName(spark.range(1).select(lit(9998L).as("vec_id"),
        array(lit(2f), nullF, lit(-4f)).as("embedding")))
      .unionByName(spark.range(1).select(lit(9997L).as("vec_id"),
        array(nullF, nullF).as("embedding")))
      .unionByName(spark.range(1).select(lit(9996L).as("vec_id"),
        array(lit(0f), nullF).as("embedding")))
    val diff = embs.select(col("embedding")).unionByName(edgeVecs.select(col("embedding")))
      .select(hof.as("a"),
        call_function("graft_quantize_i8", col("embedding")).as("b"))
      // null-safe compare: plain === is NULL when an element is null,
      // which would silently exclude exactly the rows under test
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff == 0L, s"$diff vectors quantize differently native vs HOF")
  }

  test("E3: int8-quantized IVF agrees with full-precision IVF on most neighbors") {
    def hits(corpus: org.apache.spark.sql.DataFrame) = {
      val q = corpus.filter(col("vec_id") < 10)
      Similarity.ivfTopK(corpus, q, 5, nlist = 16, nprobe = 4, lloydIters = 0)
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val full = hits(embs)
    val qz = Similarity.quantizeInt8(embs).select(col("vec_id"), col("q").as("embedding"))
    val int8 = hits(qz)
    val agree = (full intersect int8).size.toDouble / full.size
    assert(agree >= 0.6, s"int8 IVF agreement $agree < 0.6 vs full precision")
  }

  test("E3: IVF-PQ recall vs un-quantized IVF of the same geometry") {
    def hits(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = embs.filter(col("vec_id") < 10)
    val full = hits(Similarity.ivfTopK(embs, q, 5, nlist = 64, nprobe = 8, lloydIters = 0))
    // the e37 geometry: candidates come from the SAME coarse cells, so
    // disagreement is pure PQ distortion in the ranking (measured 0.74
    // on this corpus; pinned with margin)
    val pq = hits(Similarity.ivfPqTopK(embs, q, 5, nlist = 64, nprobe = 8,
      m = 16, ksub = 64, pqIters = 2))
    val agree = (full intersect pq).size.toDouble / full.size
    assert(agree >= 0.6, s"IVF-PQ agreement $agree < 0.6 vs full-precision IVF")
    // finer subspace split beats coarser at equal codebook size — the
    // geometry lever that dominates recall on unstructured corpora
    // (0.48 measured at m=8): distortion per subspace falls with dsub
    val pq8 = hits(Similarity.ivfPqTopK(embs, q, 5, nlist = 64, nprobe = 8,
      m = 8, ksub = 64, pqIters = 2))
    val agree8 = (full intersect pq8).size.toDouble / full.size
    assert(agree > agree8, s"m=16 agreement $agree should beat m=8 $agree8")
  }

  test("E3: PQ codebook matrix rides as a reference object — plan is O(1) in m*ksub") {
    val q = embs.filter(col("vec_id") < 10)
    val small = Similarity.ivfPqTopK(embs, q, 5, nlist = 16, nprobe = 4, m = 8, ksub = 8)
      .queryExecution.executedPlan.toString
    val large = Similarity.ivfPqTopK(embs, q, 5, nlist = 64, nprobe = 8, m = 8, ksub = 64)
      .queryExecution.executedPlan.toString
    assert(small.contains("graft_pq_encode") && small.contains("graft_pq_lut"))
    assert(large.length <= small.length * 2,
      s"plan text grew with codebook size: ${small.length} -> ${large.length} chars")
  }

  test("E3: persisted IVF-PQ index serves the exact in-query results; zero training scans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_spec").toString
    Similarity.buildIndex(embs, dir, nlist = 64, m = 16, ksub = 64, pqIters = 2)
    val q = embs.filter(col("vec_id") < 10)
    val inQuery = Similarity.ivfPqTopK(embs, q, 5, nlist = 64, nprobe = 8,
      m = 16, ksub = 64, pqIters = 2).collect()
    val idx = Similarity.loadIndex(spark, dir)
    val served = Similarity.queryIndex(idx, q, k = 5, nprobe = 8).collect()
    assert(served.toSeq == inQuery.toSeq,
      "served results must equal the in-query flavor row for row")

    // build-once/serve-many: the serve plan reads the index's codes
    // parquet and the query batch ONLY — with an in-memory query batch,
    // no scan of the training corpus appears anywhere in the plan
    import spark.implicits._
    val qmem = q.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .toSeq.toDF("vec_id", "embedding")
    val servePlan = Similarity.queryIndex(idx, qmem, k = 5, nprobe = 8)
      .queryExecution.executedPlan.toString
    assert(servePlan.contains("codes"), s"serve plan must scan the index codes:\n${servePlan.take(800)}")
    assert(!servePlan.contains("embeddings.parquet"),
      "serve plan must not rescan the training corpus")
    // the codes layout IS the inverted file: one partition dir per cell
    val cellDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).count(_.startsWith("cid="))
    assert(cellDirs == 64, s"expected 64 cid= partition dirs, got $cellDirs")
  }

  test("E3: index append encodes with the frozen model — atomic, crash-partial invisible") {
    import graft.streaming.ExactlyOnce
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_app").toString
    val base = embs.filter(col("vec_id") < 400)
    val growth = embs.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    Similarity.buildIndex(base, dir, nlist = 64, m = 16, ksub = 64, pqIters = 2)
    // crash MID-STAGE: a partial generation without a ledger commit
    val anchor = new org.apache.hadoop.fs.Path(s"$dir/codes_appends")
    val idxModel = Similarity.loadIndex(spark, dir)
    assert(idxModel.codes.count() == 400)
    growth.limit(10).select(col("vec_id"), lit(0).as("cid"),
        lit(Array[Byte]()).as("packed"), lit(1.0d).as("rnorm"))
      .write.mode("overwrite").partitionBy("cid")
      .parquet(ExactlyOnce.batchDir(anchor, 0L).toString)
    assert(Similarity.loadIndex(spark, dir).codes.count() == 400,
      "uncommitted partial generation must be invisible")
    // the real append overwrites the partial stage and commits
    Similarity.appendToIndex(growth, dir)
    val idx2 = Similarity.loadIndex(spark, dir)
    assert(idx2.codes.count() == 450)
    // appended codes must equal a fresh encode under the SAME model —
    // identical cells, identical packed codes (the frozen-model contract)
    val fs = anchor.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(0L))
    // a query that IS an appended vector must retrieve itself... the
    // serve path excludes qid == id, so probe with a fresh qid carrying
    // an appended vector's embedding
    import spark.implicits._
    val probeVec = growth.filter(col("vec_id") === 420L)
      .collect().head.getSeq[Float](1)
    val probe = Seq((999999L, probeVec)).toDF("vec_id", "embedding")
    val top = Similarity.queryIndex(idx2, probe, k = 1, nprobe = 8).collect()
    assert(top.nonEmpty && top.head.getLong(1) == 420L,
      s"appended vector must be servable as its own nearest neighbor: ${top.toSeq}")
    // second append gets the next generation id
    Similarity.appendToIndex(embs.filter(col("vec_id") >= 450), dir)
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(1L))
    assert(Similarity.loadIndex(spark, dir).codes.count() == 500)
    // compaction folds both generations into one codes table with
    // identical serving results
    val before = Similarity.queryIndex(Similarity.loadIndex(spark, dir),
      probe, k = 5, nprobe = 8).collect().toSeq
    Similarity.compactIndex(spark, dir)
    val cidx = Similarity.loadIndex(spark, dir)
    assert(cidx.codes.count() == 500)
    val after = Similarity.queryIndex(cidx, probe, k = 5, nprobe = 8).collect().toSeq
    assert(after == before, "compaction must not change serving results")
  }

  test("E3: LSH dup pairs are a subset of exact dup pairs with identical cosines") {
    val slice = embs.filter(col("vec_id") < 1000)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = toMap(Similarity.cosineDupPairs(slice, threshold = 0.4))
    val lsh = toMap(Similarity.lshDupPairs(slice, threshold = 0.4))
    assert(lsh.nonEmpty, "bucketed dup pairs should find something at 0.4 on this corpus")
    // precision 1: every LSH-reported pair is a true dup pair with the
    // exact same (bit-identical) cosine as the all-pairs flavor
    assert(lsh.keySet.subsetOf(exact.keySet),
      s"phantom pairs: ${lsh.keySet -- exact.keySet}")
    lsh.foreach { case (k, c) => assert(exact(k) == c, s"cosine drift on $k") }
    // deterministic: fixed hyperplane seed → identical output on re-run
    assert(toMap(Similarity.lshDupPairs(slice, threshold = 0.4)) == lsh)
  }

  test("E3: lshDupPairs surfaces the maxBucket bound on stderr when it bites") {
    val slice = embs.filter(col("vec_id") < 200)
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try {
      // maxBucket=1 drops every shared bucket — the bound must be loud
      Similarity.lshDupPairs(slice, threshold = 0.0, maxBucket = 1).collect()
      val deadline = System.currentTimeMillis() + 15000
      while (!buf.toString.contains("maxBucket engaged") &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally System.setErr(prev)
    assert(buf.toString.contains("lshDupPairs maxBucket engaged"),
      s"expected a drop warning, stderr was: ${buf.toString.take(500)}")
  }

  test("E3: int8-quantized top-k tracks the full-precision ranking") {
    val q = embs.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(embs, q, 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizeInt8(embs)
    val qt = Similarity.bruteForceTopK(quant, quant.filter(col("vec_id") < 10), 5, vecCol = "q")
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect qt).size.toDouble / brute.size
    assert(recall >= 0.8, s"int8 recall $recall < 0.8")
    // quantized values are integers in [-127, 127] stored as f32
    val bad = quant.filter(exists(col("q"),
      x => abs(x) > 127 || x =!= x.cast("int").cast("float"))).count()
    assert(bad == 0)
  }

  test("E3: brute-force top-k is self-consistent (k rows per query, ranked)") {
    val out = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 3), 4).collect()
    assert(out.length == 12)
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val cos = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, "cos not descending")
    }
  }

  test("E1 lifecycle: persisted dedup index — exact/near/new verdicts, append growth") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while autumn " +
      "leaves drift across the quiet village square at dusk and children " +
      "chase paper lanterns down the cobbled lane past the old mill"
    val corpus = Seq(
      (1L, base),
      (2L, "completely different content about distributed query engines " +
        "and columnar storage formats for analytical workloads at scale " +
        "with vectorized execution and late materialization strategies"),
      (3L, "yet another unrelated document mentioning harvest festivals")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString
    Dedup.buildDedupIndex(corpus, "doc_id", "text", dir)
    val idx = Dedup.loadDedupIndex(spark, dir)
    assert(idx.meta == Dedup.DedupIndexMeta(32, 8, 3, 1000))

    val batch = Seq(
      (10L, base.toUpperCase), // exact after case folding
      (11L, base.replace("dusk", "dawn")), // near: one word of ~33 changed
      (12L, "nothing in common with any corpus document whatsoever here " +
        "a fresh page of entirely novel prose about glacier hydrology")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, "doc_id", "text", idx, minEstSim = 0.4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out(0) == ((10L, "exact", 1L, 1.0)), s"exact verdict: ${out(0)}")
    assert(out(1)._1 == 11L && out(1)._2 == "near" && out(1)._3 == 1L,
      s"near verdict: ${out(1)}")
    assert(out(1)._4 >= 0.4 && out(1)._4 < 1.0, s"near est_sim: ${out(1)._4}")
    assert(out(2) == ((12L, "new", -1L, 0.0)), s"new verdict: ${out(2)}")

    // append the admitted doc; the next batch must see it as corpus
    Dedup.appendToDedupIndex(batch.filter(col("doc_id") === 12L),
      "doc_id", "text", dir)
    val idx2 = Dedup.loadDedupIndex(spark, dir)
    val batch2 = Seq((20L, "nothing in common with any corpus document " +
      "whatsoever here a fresh page of entirely novel prose about " +
      "glacier hydrology")).toDF("doc_id", "text")
    val out2 = Dedup.incrementalDedup(batch2, "doc_id", "text", idx2)
      .head()
    assert(out2.getString(1) == "exact" && out2.getLong(2) == 12L,
      s"appended doc must serve as corpus: $out2")
  }

  test("E1 lifecycle: intra-batch duplicates get one new + one exact/near, never two new") {
    import spark.implicits._
    val novel = "a fresh page of entirely novel prose about glacier " +
      "hydrology and the slow carving of valleys by ice over millennia " +
      "with moraines and eskers left behind as the climate warmed"
    val corpus = Seq(
      (1L, "completely different content about distributed query engines " +
        "and columnar storage formats for analytical workloads at scale")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_intra").toString
    Dedup.buildDedupIndex(corpus, "doc_id", "text", dir)
    val idx = Dedup.loadDedupIndex(spark, dir)
    // 10 and 11: exact copies (after case folding); 12: near-dup of 10;
    // none matches the corpus — pre-fix all three came back `new`
    val batch = Seq(
      (10L, novel),
      (11L, novel.toUpperCase),
      (12L, novel.replace("warmed", "shifted"))
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, "doc_id", "text", idx, minEstSim = 0.4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out(0) == ((10L, "new", -1L, 0.0)), s"lowest-id copy is the keeper: ${out(0)}")
    assert(out(1) == ((11L, "exact", 10L, 1.0)),
      s"intra-batch exact copy must resolve to the keeper: ${out(1)}")
    assert(out(2)._1 == 12L && out(2)._2 == "near" && out(2)._3 == 10L,
      s"intra-batch near-dup must resolve to the keeper: ${out(2)}")
  }

  test("E1 lifecycle: index append is atomic — a crash-partial generation is invisible") {
    import spark.implicits._
    import graft.streaming.ExactlyOnce
    val corpus = Seq((1L, "the original corpus document about village " +
      "squares and paper lanterns at dusk")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_crash").toString
    Dedup.buildDedupIndex(corpus, "doc_id", "text", dir)
    val growth = Seq((5L, "a second admitted document with its own " +
      "distinct prose about glacier hydrology")).toDF("doc_id", "text")
    // simulate a crash MID-APPEND: one of the three tables staged, the
    // ledger never PUT — the old in-place append would have published it
    val anchor = new org.apache.hadoop.fs.Path(s"$dir/appends")
    val gen = ExactlyOnce.batchDir(anchor, 0L)
    growth.select(col("doc_id").as("doc"), md5(lower(col("text"))).as("fp"))
      .write.mode("overwrite").parquet(s"$gen/fingerprints")
    val idxAfterCrash = Dedup.loadDedupIndex(spark, dir)
    assert(idxAfterCrash.fingerprints.count() == 1,
      "uncommitted partial generation must be invisible")
    // the replayed append overwrites the partial stage and commits
    Dedup.appendToDedupIndex(growth, "doc_id", "text", dir)
    val idx2 = Dedup.loadDedupIndex(spark, dir)
    assert(idx2.fingerprints.count() == 2)
    assert(idx2.signatures.count() == 2)
    assert(idx2.bandKeys.select("doc").distinct().count() == 2)
    // and the appended doc serves: an exact copy resolves to doc 5
    val verdict = Dedup.incrementalDedup(
      Seq((20L, "a second admitted document with its own distinct prose " +
        "about glacier hydrology")).toDF("doc_id", "text"),
      "doc_id", "text", idx2).head()
    assert(verdict.getString(1) == "exact" && verdict.getLong(2) == 5L,
      s"committed append must serve: $verdict")
    // a torn ledger PUT resolves to the staged generation on read, and
    // the next append repairs it durably
    val fs = anchor.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(ExactlyOnce.ledgerPath(anchor), true)
    try out.write("b0".getBytes("UTF-8")) finally out.close()
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 2,
      "torn ledger must resolve to the intact staged generation")
    Dedup.appendToDedupIndex(
      Seq((9L, "a third admitted document of wholly new text about " +
        "harvest festivals in the northern provinces")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(1L))
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 3)
  }

  test("E1 lifecycle: compaction equals a fresh build — no text re-hash, prune restored") {
    import spark.implicits._
    val mk = (i: Long, t: String) => (i, t)
    // an exact-duplicate text spans corpus AND both appends: its band
    // buckets hold 2 docs at build time (kept, ≤ maxBucket=7) but 8
    // across the union — over the bound only by accumulation, the case
    // the append-time prune bypass leaves behind
    val dupText = "identical boilerplate page repeated verbatim across " +
      "corpus and every appended batch for the bucket prune to catch"
    val corpus = ((0L until 4L).map(i =>
        mk(i, s"distinct corpus prose number $i about topic ${i * 7} with " +
          s"enough words to shingle meaningfully at width three")) ++
      Seq(mk(4L, dupText), mk(5L, dupText)))
      .toDF("doc_id", "text")
    val g1 = (10L until 13L).map(i => mk(i, dupText)).toDF("doc_id", "text")
    val g2 = (13L until 16L).map(i => mk(i, dupText)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_cmp_a").toString
    Dedup.buildDedupIndex(corpus, "doc_id", "text", dir, maxBucket = 7)
    Dedup.appendToDedupIndex(g1, "doc_id", "text", dir)
    Dedup.appendToDedupIndex(g2, "doc_id", "text", dir)
    Dedup.compactDedupIndex(spark, dir)
    // reference: a fresh build over the full corpus (deterministic chain)
    val fresh = java.nio.file.Files.createTempDirectory("graft_dedup_cmp_c").toString
    Dedup.buildDedupIndex(corpus.union(g1).union(g2), "doc_id", "text",
      fresh, maxBucket = 7)
    val a = Dedup.loadDedupIndex(spark, dir)
    val b = Dedup.loadDedupIndex(spark, fresh)
    assert(a.meta == b.meta)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(a.signatures) == rows(b.signatures), "signatures diverge")
    assert(rows(a.fingerprints) == rows(b.fingerprints), "fingerprints diverge")
    assert(rows(a.bandKeys) == rows(b.bandKeys),
      "band keys diverge — compaction must re-apply the global maxBucket prune")
    // the prune actually bit: the appended union has at least one bucket
    // over the bound that the pre-compaction snapshot (through the second
    // append, generation 1) still carries
    val uncompacted = Dedup.loadDedupIndex(spark, dir, asOfGen = Some(1L))
    assert(uncompacted.bandKeys.count() > a.bandKeys.count(),
      "expected the global prune to drop accumulated boilerplate buckets")
  }

  test("E1 lifecycle: serve plan never touches corpus text — batch broadcasts, index streams") {
    import spark.implicits._
    val corpus = T.documents(spark, sf001)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_idx2").toString
    Dedup.buildDedupIndex(corpus, "doc_id", "text", dir)
    val idx = Dedup.loadDedupIndex(spark, dir)
    val batch = Seq((9001L, "a small ingest batch document")).toDF("doc_id", "text")
    val plan = Dedup.incrementalDedup(batch, "doc_id", "text", idx)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "serving a batch must not scan the corpus table")
    assert(!plan.contains("SortMergeJoin"),
      s"every index join must broadcast the batch side:\n${plan.take(2000)}")
    // the only exchanges are over batch-bounded frames: the batch
    // signature aggs (corpus + intra sides), the two candidate dedups,
    // the best-candidate window, the exact-match group
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 6,
      s"index-side shuffle leaked into the serve plan ($exchanges exchanges):\n${plan.take(2000)}")
  }

  test("E3: semantic dedup — one survivor per ball, drops justified, deterministic") {
    val res = Similarity.semanticDedup(embs, tau = 0.45, nlist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    assert(res.length == embs.count(), "one verdict per input vector")
    val (keeps, drops) = res.partition(_._3 == "keep")
    assert(keeps.nonEmpty && drops.nonEmpty,
      s"expected a mix on the planted near-dup corpus (keep=${keeps.length} drop=${drops.length})")
    keeps.foreach { case (_, _, _, dupOf, dupCos) =>
      assert(dupOf == -1L && dupCos == 0.0)
    }
    drops.foreach { case (id, _, _, dupOf, dupCos) =>
      assert(dupOf != id && dupOf >= 0L && dupCos >= 0.45)
    }
    // every reported (dropped, dup_of) pair really is within tau, and
    // dup_of really is assigned to the same cell
    val cellOf = res.map(r => r._1 -> r._2).toMap
    drops.foreach { case (id, cid, _, dupOf, _) =>
      assert(cellOf(dupOf) == cid, s"dup_of $dupOf of $id crossed cells")
    }
    import spark.implicits._
    val pairs = drops.toSeq.map(d => (d._1, d._4, d._5)).toDF("id", "oid", "claimed")
    val e1 = embs.select(col("vec_id").as("id"), col("embedding").as("v1"))
    val e2 = embs.select(col("vec_id").as("oid"), col("embedding").as("v2"))
    val bad = pairs.join(e1, "id").join(e2, "oid")
      .withColumn("cos", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("cos") =!= col("claimed") || col("cos") < 0.45)
    assert(bad.count() == 0, "reported dup cosine must be the true pair cosine >= tau")
    // deterministic end to end (fixed seed draw + decimal Lloyd means)
    val again = Similarity.semanticDedup(embs, tau = 0.45, nlist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    assert(res.toSeq == again.toSeq)
  }

  test("E3: empty corpus short-circuits ivfTopK and semanticDedup (no analysis error)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val q = embs.filter(col("vec_id") < 3)
    val ivf = Similarity.ivfTopK(empty, q, 5, nlist = 4)
    assert(ivf.count() == 0)
    assert(ivf.columns.toSeq == Seq("qid", "vec_id", "cos", "rn"))
    val sem = Similarity.semanticDedup(empty, tau = 0.45, nlist = 4)
    assert(sem.count() == 0)
    assert(sem.columns.toSeq == Seq("vec_id", "cid", "verdict", "dup_of", "dup_cos"))
  }

  test("E3: semantic dedup — tau extremes bracket the verdict space") {
    // tau above any cosine: nothing is within the ball — everything kept
    val none = Similarity.semanticDedup(embs, tau = 1.1, nlist = 16)
    assert(none.filter(col("verdict") =!= "keep").count() == 0)
    // tau below any cosine: every ball spans its whole cell — exactly
    // the most-central member (crank 1) of each cell survives
    val all = Similarity.semanticDedup(embs, tau = -1.1, nlist = 16)
    val kept = all.filter(col("verdict") === "keep").count()
    val cells = all.select("cid").distinct().count()
    assert(kept == cells, s"expected one survivor per cell, got $kept/$cells")
  }

  test("E3: semantic dedup native-cell path matches the literal path bit-for-bit") {
    // the scale deployment sizes nlist past literalNlistMax and takes
    // the graft_ivf_cells assignment; verdicts must be identical to the
    // oracle-restatable literal projection (same arithmetic contract
    // ivfTopK pins for its two paths)
    def rows(nlm: Int) = Similarity.semanticDedup(embs, tau = 0.45,
        nlist = 16, literalNlistMax = nlm)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(rows(256) == rows(0))
  }

  test("E3: semantic dedup over int8-quantized vectors tracks full precision") {
    // cosine is scale-free, so the 4×-smaller quantized corpus is a
    // drop-in input (the e22/e34 composition applied to dedup): verdicts
    // agree with full precision except where quantization error crosses
    // the tau boundary — near-dup planted pairs sit far above it
    val full = Similarity.semanticDedup(embs, tau = 0.45, nlist = 16)
      .select("vec_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val qz = Similarity.quantizeInt8(embs)
      .select(col("vec_id"), col("q").as("embedding"))
    val quant = Similarity.semanticDedup(qz, tau = 0.45, nlist = 16)
      .select("vec_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(quant.keySet == full.keySet)
    val agree = full.count { case (id, v) => quant(id) == v }
    assert(agree.toDouble / full.size >= 0.9,
      s"quantized dedup diverged: $agree/${full.size} verdicts agree")
  }

  test("E3: semantic dedup — maxCell exempts oversized cells; centroids broadcast") {
    // maxCell=0 makes every cell oversized: the pair pass is skipped and
    // everything is kept whole (bounded-work posture, drop surfaced via
    // the observe metric)
    val allKept = Similarity.semanticDedup(embs, tau = 0.45, nlist = 16, maxCell = 0)
    assert(allKept.filter(col("verdict") =!= "keep").count() == 0)
    val plan = Similarity.semanticDedup(embs, tau = 0.45, nlist = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "within-cell pairing must join on cid, never cross-join")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "the nlist-row centroid table must broadcast")
  }

  test("E1: duplicate span coverage — cross-doc windows flagged, within-doc repeats not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),          // 4 windows (k=3), 3 shared with doc 2
      (2L, "x y a b c d e z"),      // 6 windows, 3 shared -> exactly 0.5
      (3L, "p q r s t"),            // 3 windows, none shared
      (4L, "u v"),                  // short doc: whole text is one window
      (5L, "u v"),                  //   exact short dup -> coverage 1.0
      (6L, "m n o m n o")           // within-doc repeat only: df stays 1
    ).toDF("doc_id", "text")
    val res = Dedup.duplicateSpanCoverage(docs, "doc_id", "text",
        k = 3, minDf = 2, trimAt = 0.5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4)))
    assert(res.toSeq == Seq(
      (1L, 4L, 3L, 0.75, "trim"),
      (2L, 6L, 3L, 0.5, "trim"),
      (3L, 3L, 0L, 0.0, "keep"),
      (4L, 1L, 1L, 1.0, "trim"),
      (5L, 1L, 1L, 1.0, "trim"),
      (6L, 4L, 0L, 0.0, "keep")))
  }

  test("E1: duplicate span coverage property — a scala restatement at random corpora") {
    import org.scalacheck.Gen
    import spark.implicits._
    // small vocab + short docs force cross-doc window collisions and the
    // short-doc whole-text-window path
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = Gen.choose(2, 10).flatMap(k => Gen.listOfN(k, docGen))
    val k = 3
    val seed0 = org.scalacheck.rng.Seed(23L)
    Iterator.iterate(seed0)(_.next).take(15).foreach { seed =>
      corpus.apply(Gen.Parameters.default, seed).foreach { texts =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val out = Dedup.duplicateSpanCoverage(df, "doc_id", "text", k = k)
          .orderBy("doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getString(4))).toList
        // reference restatement: positional k-token windows (whole text
        // when shorter), duplicated when the window string occurs in >= 2
        // distinct docs
        val wins: Map[Long, Seq[String]] = texts.zipWithIndex.map { case (t, i) =>
          val ws = t.split(' ').toSeq
          i.toLong -> (if (ws.size < k) Seq(t) else ws.sliding(k).map(_.mkString(" ")).toSeq)
        }.toMap
        val multi = wins.toSeq.flatMap { case (id, w) => w.distinct.map(_ -> id) }
          .groupBy(_._1).filter(_._2.size >= 2).keySet
        assert(out.map(_._1) == texts.indices.map(_.toLong).toList, "one row per doc")
        out.foreach { case (id, nGrams, dupGrams, cov, verdict) =>
          val w = wins(id)
          assert(nGrams == w.size, s"doc $id window count")
          assert(dupGrams == w.count(multi.contains), s"doc $id dup count")
          assert(cov == dupGrams.toDouble / nGrams)
          assert(verdict == (if (cov >= 0.5) "trim" else "keep"))
        }
      }
    }
  }

  test("E1: duplicate span coverage plan — no cartesian, fingerprints not text on the wire") {
    val plan = Dedup.duplicateSpanCoverage(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // the exchanges carry (doc, fp) projections; the raw text column is
    // consumed map-side by the window fingerprint projection
    val exchangeCols = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchangeCols.nonEmpty && exchangeCols.forall(c =>
      c.startsWith("fp") || c.startsWith("doc")),
      s"unexpected shuffle keys: $exchangeCols")
  }

  // ---------------- MMR diversified re-rank ----------------

  test("E3: mmrRerank prefers a diverse pick over a redundant higher-rel one") {
    import spark.implicits._
    // query at e1; top candidate A, its near-copy B (redundant: sim to
    // A ≈ 1 while rel is a hair lower), and a diverse C whose rel
    // exceeds its similarity to A by a wide margin
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (100L, v(1.0, 0.0)), // query
      (1L, v(0.9, 0.1)), // A: best rel
      (2L, v(0.9, 0.11)), // B: redundant near-copy of A
      (3L, v(0.8, -0.6)) // C: diverse (rel 0.80, sim-to-A 0.73)
    ).toDF("vec_id", "embedding")
    val cands = Similarity.bruteForceTopK(
      corpus, corpus.filter(col("vec_id") === 100L), k = 3)
    val out = Similarity.mmrRerank(cands, corpus, k = 2, lambda = 0.5)
      .orderBy("mmr_rank")
      .select("vec_id", "mmr_rank").as[(Long, Long)].collect().toSeq
    // rank 1 = highest rel (copy A); rank 2 = the DIVERSE vector, not copy B
    assert(out === Seq((1L, 1L), (3L, 2L)))
    // λ=1 degenerates to plain relevance order: copy B outranks diverse
    val plain = Similarity.mmrRerank(cands, corpus, k = 2, lambda = 1.0)
      .orderBy("mmr_rank").select("vec_id").as[Long].collect().toSeq
    assert(plain === Seq(1L, 2L))
  }

  test("E3: mmrRerank rejects a candidate frame without the expected columns") {
    import spark.implicits._
    val noScore = Seq((1L, 2L)).toDF("qid", "vec_id")
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrRerank(noScore, T.embeddings(spark, sf001), k = 2)
    }
    assert(e.getMessage.contains("cos"))
  }

  test("E3: mmrRerank is partitioning-independent and caps at the candidate count") {
    val emb = T.embeddings(spark, sf001)
    val cands = Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 3), k = 8)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.mmrRerank(c, emb, k = 20, lambda = 0.7) // k > fetch: emit all 8
        .orderBy("qid", "mmr_rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val a = run(cands.repartition(1))
    val b = run(cands.repartition(5))
    assert(a == b)
    assert(a.groupBy(_._1).values.forall(_.size == 8))
  }
}
