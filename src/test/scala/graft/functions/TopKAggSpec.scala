package graft.functions

import graft.{SparkSpec, Tables => T}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** The bounded top-k aggregate: buffer mechanics, reference-equality
  * against the window formulation at random multisets/partitionings,
  * and the bounded-shuffle plan shape. */
class TopKAggSpec extends SparkSpec {

  private def referenceTopK(rows: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] =
    rows.distinct.sortBy { case (key, id) => (-key, id) }.take(k)

  test("buffer: (key DESC, id ASC) order, tiebreaks, eviction, dup-pair collapse") {
    val b = new TopKBuffer(3)
    Seq((5L, 9L), (7L, 2L), (5L, 1L), (5L, 9L)).foreach(p => b.insert(p._1, p._2))
    assert((0 until b.n).map(i => (b.keys(i), b.ids(i))) == Seq((7L, 2L), (5L, 1L), (5L, 9L)))
    // UNSATURATED duplicate (not the equal-to-last fast path): the pair
    // must collapse instead of occupying a second slot
    val u = new TopKBuffer(4)
    Seq((5L, 1L), (5L, 1L), (4L, 0L)).foreach(p => u.insert(p._1, p._2))
    assert((0 until u.n).map(i => (u.keys(i), u.ids(i))) == Seq((5L, 1L), (4L, 0L)))
    // duplicate of a NON-last element while other slots exist
    val m = new TopKBuffer(4)
    Seq((9L, 1L), (5L, 2L), (9L, 1L)).foreach(p => m.insert(p._1, p._2))
    assert((0 until m.n).map(i => (m.keys(i), m.ids(i))) == Seq((9L, 1L), (5L, 2L)))
    b.insert(6L, 4L) // evicts (5, 9)
    assert((0 until b.n).map(i => (b.keys(i), b.ids(i))) == Seq((7L, 2L), (6L, 4L), (5L, 1L)))
    b.insert(5L, 3L) // worse than current tail on tiebreak? (5,3) beats nothing <= (5,1)? id 3 > 1 → rejected
    assert((0 until b.n).map(i => (b.keys(i), b.ids(i))) == Seq((7L, 2L), (6L, 4L), (5L, 1L)))
  }

  test("serialize round-trips; merge == insert-all") {
    val a = new TopKBuffer(4)
    val b = new TopKBuffer(4)
    Seq((3L, 1L), (9L, 5L), (1L, 7L)).foreach(p => a.insert(p._1, p._2))
    Seq((9L, 2L), (4L, 4L), (2L, 6L)).foreach(p => b.insert(p._1, p._2))
    val back = TopKBuffer.deserialize(4, b.serialize())
    a.mergeFrom(back)
    assert((0 until a.n).map(i => (a.keys(i), a.ids(i))) ==
      Seq((9L, 2L), (9L, 5L), (4L, 4L), (3L, 1L)))
  }

  test("property: aggregate equals the window formulation at random multisets") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 250)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 500L)))
      k <- Gen.oneOf(1, 2, 5, 32)
      parts <- Gen.choose(1, 6)
    } yield (rows, k, parts) // duplicates KEPT — set-collapse is under test
    val seed0 = org.scalacheck.rng.Seed(41L)
    Iterator.iterate(seed0)(_.next).take(10).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach { case (rows, k, parts) =>
        val got = rows.toDF("key", "id").repartition(parts)
          .agg(call_function("graft_topk", col("key"), col("id"), lit(k)).as("t"))
          .select(explode(col("t")))
          .select(col("col.key"), col("col.id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got == referenceTopK(rows, k), s"k=$k parts=$parts")
      }
    }
  }

  test("plan: ObjectHashAggregate partial/final, no WindowExec, no sort before the exchange") {
    val df = T.documents(spark, sf001)
      .groupBy(col("source"))
      .agg(call_function("graft_topk", col("n_chars"), col("doc_id"), lit(3)).as("t"))
    val plan = df.queryExecution.executedPlan.toString()
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.toLowerCase.contains("partial"), s"no map-side partial phase:\n$plan")
    assert(!plan.contains("Window"), s"top-k must not fall back to WindowExec:\n$plan")
    assert(!plan.contains("Sort"), s"no sort anywhere — insertion keeps order:\n$plan")
  }
}
