package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** Unit semantics of the PQ native expressions — null-element handling
  * mirrors the SQL oracle (a null element nulls its LIST_TRANSFORM term
  * and LIST_SUM skips it: zero contribution to any distance/dot fold),
  * and the struct output carries the reconstructed norm of the chosen
  * codewords. Geometry here: m=2 subspaces × ksub=2 codewords × dsub=2. */
class PqCodesSpec extends SparkSpec {

  // books[((j*ksub)+c)*dsub + i]: subspace 0 codewords (1,0),(0,1);
  // subspace 1 codewords (2,0),(0,2)
  private val books = Seq(1f, 0f, 0f, 1f, 2f, 0f, 0f, 2f)
  private def call(fn: String, vec: org.apache.spark.sql.Column) = {
    call_function(fn, vec, typedLit(books), lit(2), lit(2), lit(2))
  }

  test("encode picks min-L2 codewords, ties to smaller id; rnorm reconstructs") {
    val df = spark.range(1).select(array(lit(0.9f), lit(0.1f), lit(0f), lit(1.9f)).as("v"))
    val r = df.select(call("graft_pq_encode", col("v")).as("e"))
      .select(col("e.code"), col("e.rnorm")).collect().head
    assert(r.getSeq[Int](0) == Seq(0, 1)) // (0.9,0.1)→codeword 0; (0,1.9)→codeword 1
    // rnorm = sqrt(|cw00|² + |cw11|²) = sqrt(1 + 4)
    assert(math.abs(r.getDouble(1) - math.sqrt(5.0)) < 1e-12)
  }

  test("null elements contribute nothing to encode distances or LUT dots") {
    val nullF = lit(null).cast(FloatType)
    // (null, 0.1): distances ignore component 0 → cw0 d=0.01, cw1 d=0.81
    val df = spark.range(1).select(array(nullF, lit(0.1f), lit(2f), nullF).as("v"))
    val enc = df.select(call("graft_pq_encode", col("v")).as("e"))
      .select(col("e.code")).collect().head.getSeq[Int](0)
    assert(enc == Seq(0, 0)) // subspace 1: (2, null) → cw0 (2,0) d=0, cw1 d=4
    val lut = df.select(call("graft_pq_lut", col("v")).as("l"))
      .collect().head.getSeq[Double](0)
    // lut[j*ksub+c] = dot(q_j, cw_jc) with nulls skipped:
    // j0: (null,0.1)·(1,0)=0, (null,0.1)·(0,1)=0.1
    // j1: (2,null)·(2,0)=4, (2,null)·(0,2)=0
    assert(lut == Seq(0.0, 0.1f.toDouble * 1.0, 4.0, 0.0))
  }

  test("packed codes round-trip and native ADC equals the explicit lut fold") {
    import org.scalacheck.Gen
    // larger geometry so packing spans words: m=16, ksub=64, dsub=4 over
    // 64-dim vectors (the e37 shape) with a random codebook
    val m = 16; val ksub = 64; val dsub = 4
    val seed0 = org.scalacheck.rng.Seed(5L)
    val bookGen = Gen.listOfN(m * ksub * dsub, Gen.choose(-100, 100).map(_ / 10f))
    val vecGen = Gen.listOfN(m * dsub, Gen.choose(-100, 100).map(_ / 10f))
    Iterator.iterate(seed0)(_.next).take(10).foreach { seed =>
      Gen.zip(bookGen, vecGen).apply(Gen.Parameters.default, seed).foreach {
        case (bk, v) =>
          val df = spark.range(1).select(typedLit(v).as("v"))
          def f(fn: String) = call_function(fn, col("v"), typedLit(bk),
            lit(m), lit(ksub), lit(dsub))
          val r = df.select(f("graft_pq_encode").as("e"),
              call_function("graft_pq_adc", col("e.packed"),
                f("graft_pq_lut"), lit(m), lit(ksub)).as("adc"),
              f("graft_pq_lut").as("lut"))
            .collect().head
          val code = r.getStruct(0).getSeq[Int](0)
          val packed = r.getStruct(0).getSeq[Long](1)
          // round-trip: unpack (6 bits, 10 codes/word, big-endian) = code
          val unpacked = (0 until m).map { j =>
            ((packed(j / 10) >>> (6 * (9 - j % 10))) & 63L).toInt
          }
          assert(unpacked == code, s"pack round-trip broke: $code vs $unpacked")
          assert(packed.length == 2)
          // native ADC == the explicit j-ascending lut fold
          val lut = r.getSeq[Double](2)
          val expected = (0 until m).foldLeft(0.0)((acc, j) => acc + lut(j * ksub + code(j)))
          assert(r.getDouble(1) == expected, "native ADC diverged from the lut fold")
      }
    }
  }

  test("all-null vector encodes to codeword 0 everywhere with zero dots") {
    val nullF = lit(null).cast(FloatType)
    val df = spark.range(1).select(array(nullF, nullF, nullF, nullF).as("v"))
    val r = df.select(call("graft_pq_encode", col("v")).as("e"),
      call("graft_pq_lut", col("v")).as("l")).collect().head
    assert(r.getStruct(0).getSeq[Int](0) == Seq(0, 0)) // every d folds to 0 → tie → smallest id
    assert(r.getSeq[Double](1).forall(_ == 0.0))
  }
}
