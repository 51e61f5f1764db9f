package graft.functions

import graft.{SparkSpec, Tables => T}
import graft.ext.Cardinality
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** The KMV distinct-count sketch aggregate: reference-equality against
  * a literal Scala restatement at random multisets and partitionings,
  * buffer mechanics (dedup, eviction, merge truncation), map-side
  * partial aggregation in the plan, and estimator accuracy.
  */
class KmvSketchSpec extends SparkSpec {

  private def referenceKmv(values: Seq[Long], k: Int): Seq[Long] =
    values.distinct.sorted.take(k)

  test("buffer: dedup, ascending order, eviction of the max at capacity") {
    val b = new KmvBuffer(4)
    Seq(50L, 10L, 50L, 30L, 20L).foreach(b.insert) // dup 50 ignored
    assert(b.toArray.toSeq == Seq(10L, 20L, 30L, 50L))
    b.insert(5L) // evicts 50
    assert(b.toArray.toSeq == Seq(5L, 10L, 20L, 30L))
    b.insert(40L) // >= max, rejected
    assert(b.toArray.toSeq == Seq(5L, 10L, 20L, 30L))
  }

  test("buffer merge == insert-all, truncated to k smallest distinct") {
    val a = new KmvBuffer(3)
    val b = new KmvBuffer(3)
    Seq(9L, 2L, 7L).foreach(a.insert)
    Seq(2L, 1L, 8L).foreach(b.insert)
    a.mergeFrom(b)
    assert(a.toArray.toSeq == Seq(1L, 2L, 7L))
  }

  test("serialize round-trips the exact buffer state") {
    val b = new KmvBuffer(8)
    Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L).foreach(b.insert)
    val back = KmvBuffer.deserialize(8, b.serialize())
    assert(back.toArray.toSeq == b.toArray.toSeq)
  }

  test("property: aggregate over arbitrary multisets/partitionings equals the literal k-smallest-distinct") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 300)
      vs <- Gen.listOfN(n, Gen.choose(1L, 50L)) // heavy duplication on purpose
      k <- Gen.oneOf(2, 3, 8, 64)
      parts <- Gen.choose(1, 7)
    } yield (vs, k, parts)
    val seed0 = org.scalacheck.rng.Seed(13L)
    Iterator.iterate(seed0)(_.next).take(10).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach { case (vs, k, parts) =>
        val df = vs.toDF("h").repartition(parts)
        val got = df.agg(call_function("graft_kmv", col("h"), lit(k)).as("s"))
          .collect().head.getSeq[Long](0)
        assert(got == referenceKmv(vs, k),
          s"k=$k parts=$parts vs=${vs.take(20)}...")
      }
    }
  }

  test("plan: KMV groupBy runs as ObjectHashAggregate with a map-side partial phase") {
    val plan = Cardinality.kmvDistinctTokens(T.documents(spark, sf001), "source", "text", 64)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg:\n$plan")
    // two aggregate phases around one exchange: partial sketches combine
    // map-side, so the shuffle carries <= k longs per (partition, group)
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_graft_kmv") || plan.contains("partial graft_kmv") ||
      plan.toLowerCase.contains("partial"), s"no partial agg phase:\n$plan")
  }

  test("estimator: within 15% of truth on 20k uniform distinct values at k=256") {
    import spark.implicits._
    // deterministic pseudo-uniform 60-bit hashes via splitmix-style mix
    val vals = (1 to 20000).map { i =>
      var z = i.toLong * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ((z ^ (z >>> 31)) & ((1L << 60) - 1)) + 1
    }
    val s = vals.toDF("h")
      .agg(call_function("graft_kmv", col("h"), lit(256)).as("s"))
      .collect().head.getSeq[Long](0)
    assert(s.length == 256)
    val est = 255.0 * Cardinality.HashSpace / s.last.toDouble
    assert(math.abs(est - 20000.0) / 20000.0 < 0.15, s"est=$est")
  }

  test("overlap algebra: unsaturated sketches give EXACT union/intersection/jaccard") {
    import spark.implicits._
    // A = {a,b,c,d}, B = {c,d,e}, C = {z} — all well under k
    val docs = Seq(
      ("A", "a b c d"), ("B", "c d e"), ("C", "z")).toDF("src", "text")
    val out = Cardinality.kmvOverlap(docs, "src", "text", 64)
      .orderBy("source_a", "source_b").collect()
    assert(out.length == 3) // AB, AC, BC
    val ab = out(0)
    assert(ab.getDouble(2) == 4.0 && ab.getDouble(3) == 3.0) // est_a, est_b
    assert(ab.getDouble(4) == 5.0) // |A ∪ B|
    assert(ab.getDouble(5) == 2.0) // |A ∩ B| = {c, d}
    assert(ab.getDouble(6) == 2.0 / 5.0)
    val ac = out(1)
    assert(ac.getDouble(4) == 5.0 && ac.getDouble(5) == 0.0 && ac.getDouble(6) == 0.0)
  }

  test("overlap plan: pairwise stage is a broadcast join over sketches, corpora never re-read") {
    val df = Cardinality.kmvOverlap(T.documents(spark, sf001), "source", "text", 64)
    df.collect() // AQE finalizes reuse at runtime
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin"), s"pair stage not broadcast:\n$plan")
    // one scan feeds both join sides through a reused exchange — the
    // corpus is tokenized and sketched ONCE
    assert(plan.contains("ReusedExchange"), s"sketch front not shared:\n$plan")
  }

  test("streaming: sketch state merged across micro-batches == one batch aggregation") {
    import spark.implicits._
    val s = graft.streaming.StateBackend.isolatedStreamSession(spark)
    // 3 slice files, heavy cross-slice value overlap, k saturated (16 of
    // 90 distinct per group) so eviction/merge runs in EVERY batch
    val rows = (0 until 600).map(i => (s"g${i % 3}", (i % 90).toLong + 1))
    val staging = java.nio.file.Files.createTempDirectory("graft_kmv_stream").toString
    for (g <- 0 until 3)
      rows.slice(g * 200, g * 200 + 200).toDF("grp", "h")
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/slice$g")
    val sch = s.read.parquet(s"$staging/slice0").schema
    val src = s.readStream.schema(sch).option("maxFilesPerTrigger", 1)
      .parquet(s"$staging/slice*")
    val q = src.groupBy(col("grp"))
      .agg(call_function("graft_kmv", col("h"), lit(16)).as("s"))
      .writeStream.format("memory").queryName("graft_kmv_stream_spec")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      s"expected multiple micro-batches: ${q.recentProgress.map(_.numInputRows).toSeq}")
    val got = s.table("graft_kmv_stream_spec").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val want = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).distinct.sorted.take(16)
    }
    assert(got == want)
  }

  test("column profile: nulls counted, sub-k columns exact, ONE scan for all columns") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), Some("a")), (None, Some("b")),
      (Some(2L), None), (Some(3L), Some("b"))).toDF("num", "str")
    val rows = Cardinality.profileColumns(df, Seq("num", "str"), 64)
      .orderBy("column_name").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("num", "str"))
    val num = rows(0)
    assert(num.getLong(1) == 1L && num.getLong(2) == 3L && num.getDouble(4) == 3.0)
    val str = rows(1)
    assert(str.getLong(1) == 1L && str.getLong(2) == 2L && str.getDouble(4) == 2.0)
    // the at-scale contract: however many columns, ONE scan + ONE
    // global aggregate computes every counter and sketch
    val plan = Cardinality.profileColumns(
      T.lineitem(spark, sf001), Seq("l_orderkey", "l_suppkey", "l_returnflag"), 64)
      .queryExecution.executedPlan.toString()
    assert("FileScan".r.findAllIn(plan).size == 1, s"must be one scan:\n$plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, s"partial+final:\n$plan")
  }

  test("join-size estimate: exact below k with uniform multiplicities; key never shuffled") {
    import spark.implicits._
    // A: keys 1..10 × 3 rows; B: keys 6..15 × 2 rows → overlap 5,
    // true join size 5 · 3 · 2 = 30; unsaturated sketches → exact
    val a = (for (key <- 1L to 10L; _ <- 1 to 3) yield key).toDF("ka")
    val b = (for (key <- 6L to 15L; _ <- 1 to 2) yield key).toDF("kb")
    val r = Cardinality.kmvJoinSizeEstimate(a, "ka", b, "kb", 64).collect().head
    assert(r.getAs[Long]("a_rows") == 30L && r.getAs[Long]("b_rows") == 20L)
    assert(r.getAs[Double]("est_a") == 10.0 && r.getAs[Double]("est_b") == 10.0)
    assert(r.getAs[Double]("est_overlap") == 5.0)
    assert(r.getAs[Double]("est_join_rows") == 30.0)
    // at-scale contract: the plan aggregates each side to ONE sketch
    // row and cross-joins 1×1 — no exchange keyed on the join column
    val plan = Cardinality.kmvJoinSizeEstimate(a, "ka", b, "kb", 64)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("hashpartitioning(ka") && !plan.contains("hashpartitioning(kb"),
      s"join keys must never shuffle:\n$plan")
  }

  test("edge cases: empty-table profile reports zeros; empty join side estimates 0.0, not NaN") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("num", "str")
    val prof = Cardinality.profileColumns(empty, Seq("num", "str"), 16)
      .orderBy("column_name").collect()
    assert(prof.length == 2)
    prof.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getDouble(4) == 0.0, r.toString)
    }
    // dotted column name resolves as ONE column, not a struct path
    val dotted = Seq((1L, "x")).toDF("a.b", "s")
    val dr = Cardinality.profileColumns(dotted, Seq("a.b"), 16).collect().head
    assert(dr.getString(0) == "a.b" && dr.getLong(2) == 1L)
    val a = Seq(1L, 2L).toDF("ka")
    val b = Seq.empty[Long].toDF("kb")
    val est = Cardinality.kmvJoinSizeEstimate(a, "ka", b, "kb", 16).collect().head
    assert(est.getAs[Double]("est_join_rows") == 0.0, est.toString)
  }

  test("AMS F2: single-key table is EXACT (every estimator sees ±n); skew ordering holds") {
    import spark.implicits._
    // all rows one key: S_i = ±n for every estimator → est = n² exactly
    val one = Seq.fill(37)("k").toDF("key")
    val r1 = Cardinality.amsSelfJoinSize(one, "key").collect().head
    assert(r1.getAs[Long]("f2_exact") == 37L * 37L)
    assert(r1.getAs[Double]("f2_est") == 37.0 * 37.0)
    // a skewed bag must report a (much) larger F2 than a uniform one
    // of the same size — the statistic the salting decision reads
    val uniform = (1 to 64).map(_.toString).toDF("key")
    val skewed = (Seq.fill(32)("hot") ++ (1 to 32).map(_.toString)).toDF("key")
    val fu = Cardinality.amsSelfJoinSize(uniform, "key").collect().head
    val fs = Cardinality.amsSelfJoinSize(skewed, "key").collect().head
    assert(fu.getAs[Long]("f2_exact") == 64L && fs.getAs[Long]("f2_exact") == 32L * 32L + 32L)
    assert(fs.getAs[Double]("f2_est") > fu.getAs[Double]("f2_est"),
      s"skewed est ${fs.getAs[Double]("f2_est")} must exceed uniform ${fu.getAs[Double]("f2_est")}")
  }

  test("AMS F2: NULL keys scope out of BOTH arms; single-key exactness survives mixed nulls") {
    import spark.implicits._
    val mixed = (Seq.fill(5)(Some("k")) ++ Seq.fill(7)(Option.empty[String])).toDF("key")
    val r = Cardinality.amsSelfJoinSize(mixed, "key").collect().head
    assert(r.getAs[Long]("n_rows") == 5L, "null keys must not count")
    assert(r.getAs[Long]("f2_exact") == 25L, "null group must not enter exact F2")
    assert(r.getAs[Double]("f2_est") == 25.0, "estimate and exact describe the same bag")
  }

  test("negative hashes are rejected loudly, not silently mis-estimated (ADVICE r13)") {
    import spark.implicits._
    // a raw signed hash (xxhash64) sorts its negative half first and
    // yields a negative k-th minimum — nonsense estimates with no error.
    // update() must refuse instead.
    val e = intercept[Exception] {
      Seq("a", "b", "c").toDF("s")
        .agg(call_function("graft_kmv", xxhash64(col("s")), lit(16)))
        .collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("non-positive hash"), s"expected the contract error, got: $e")
    // zero is rejected too: a zero k-th minimum divides the estimator
    val z = intercept[Exception] {
      Seq(1L, 0L).toDF("h").agg(call_function("graft_kmv", col("h"), lit(16))).collect()
    }
    val zmsg = Option(z.getMessage).getOrElse("") +
      Option(z.getCause).map(_.getMessage).getOrElse("")
    assert(zmsg.contains("non-positive hash"), s"zero must be rejected: $z")
    // the engine's own 60-bit hash path is unaffected
    val ok = Seq("a", "b", "c").toDF("s")
      .select(Cardinality.md5Hex(col("s")).as("h"))
      .agg(call_function("graft_kmv", Cardinality.kmvHashFromHex(col("h")), lit(16)))
      .collect().head.getSeq[Long](0)
    assert(ok.size == 3 && ok.forall(_ > 0L))
  }

  test("exact below k: a group with fewer distinct tokens than k reports the exact count") {
    import spark.implicits._
    val docs = Seq(("g1", "a b a b c"), ("g1", "c a"), ("g2", "x")).toDF("src", "text")
    val out = Cardinality.kmvDistinctTokens(docs, "src", "text", 256)
      .orderBy("src").collect()
    assert(out(0).getLong(1) == 3 && out(0).getDouble(3) == 3.0) // a b c
    assert(out(1).getLong(1) == 1 && out(1).getDouble(3) == 1.0) // x
  }
}
