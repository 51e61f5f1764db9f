package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen

/** The Count-Min aggregate: reference grid equality at random bags and
  * partitionings, the overcount invariant, merge/serialize mechanics,
  * and collision behavior at tiny widths. */
class CmsSketchSpec extends SparkSpec {

  private def cell(v: String, r: Int, w: Int): Int = {
    val dg = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8"))
    val o = 4 * r
    ((((dg(o) & 0xffL) << 24) | ((dg(o + 1) & 0xffL) << 16) |
      ((dg(o + 2) & 0xffL) << 8) | (dg(o + 3) & 0xffL)) % w).toInt
  }

  private def referenceGrid(vs: Seq[String], w: Int, d: Int): Seq[Long] = {
    val g = new Array[Long](w * d)
    vs.foreach(v => (0 until d).foreach(r => g(r * w + cell(v, r, w)) += 1))
    g.toSeq
  }

  test("buffer add/merge/serialize equals the literal grid") {
    val vs = Seq("a", "b", "a", "c", "a", "b")
    val b1 = new CmsBuffer(8, 4)
    val b2 = new CmsBuffer(8, 4)
    vs.take(3).foreach(v => b1.add(UTF8String.fromString(v)))
    vs.drop(3).foreach(v => b2.add(UTF8String.fromString(v)))
    b1.mergeFrom(CmsBuffer.deserialize(8, 4, b2.serialize()))
    assert(b1.counts.toSeq == referenceGrid(vs, 8, 4))
  }

  test("property: aggregate grid equals the reference at random bags/partitionings") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 200)
      vs <- Gen.listOfN(n, Gen.oneOf("x", "y", "z", "w", "long-token", "é"))
      w <- Gen.oneOf(2, 8, 64)
      parts <- Gen.choose(1, 6)
    } yield (vs, w, parts)
    val seed0 = org.scalacheck.rng.Seed(53L)
    Iterator.iterate(seed0)(_.next).take(8).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach { case (vs, w, parts) =>
        val got = vs.toDF("t").repartition(parts)
          .agg(call_function("graft_cms", col("t"), lit(w), lit(2)).as("g"))
          .collect().head.getSeq[Long](0)
        assert(got == referenceGrid(vs, w, 2), s"w=$w parts=$parts")
      }
    }
  }

  test("estimates never undercount; exact when collision-free; min beats any single row") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    // wide grid: no collisions among 3 tokens → exact
    val wide = graft.ext.Cardinality.cmsTokenFrequencies(docs, "text", w = 1024, d = 4, topK = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(wide == Map("a" -> (3L, 3L), "b" -> (2L, 2L), "c" -> (1L, 1L)))
    // width 2: collisions guaranteed among 3 tokens — estimates may
    // overcount but NEVER undercount
    val tiny = graft.ext.Cardinality.cmsTokenFrequencies(docs, "text", w = 2, d = 4, topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    tiny.foreach { case (t, tru, est) => assert(est >= tru, s"$t: est $est < true $tru") }
    // depth-1 grid: the single row reads directly (least() would
    // reject one argument)
    val d1 = graft.ext.Cardinality.cmsTokenFrequencies(docs, "text", w = 1024, d = 1, topK = 3)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(d1 == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }
}
