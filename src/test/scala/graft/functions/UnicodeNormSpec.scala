package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen

/** The native Unicode-normalization expression: JDK-reference equality,
  * form coverage, the zero-copy fast path, null safety, and codegen
  * participation. */
class UnicodeNormSpec extends SparkSpec {

  private val decomposed = "café naïve Å"
  private val composed = "café naïve Å"

  test("NFC composes combining sequences; NFD inverts it; K-forms fold compatibility chars") {
    import spark.implicits._
    val df = Seq((decomposed, "ﬁ ①")).toDF("d", "k") // fi-ligature, circled one
    val r = df.select(
      call_function("graft_unicode_norm", col("d"), lit("NFC")).as("nfc"),
      call_function("graft_unicode_norm", col("d"), lit("NFD")).as("nfd"),
      call_function("graft_unicode_norm", col("k"), lit("NFKC")).as("nfkc"))
      .collect().head
    assert(r.getString(0) == composed)
    assert(r.getString(1) == java.text.Normalizer.normalize(decomposed, java.text.Normalizer.Form.NFD))
    assert(r.getString(2) == "fi 1")
  }

  test("already-normalized input takes the zero-copy fast path (same UTF8String back)") {
    val in = UTF8String.fromString(composed)
    assert(UnicodeNorm.normalize(in, UnicodeNorm.ordinalOf("NFC")) eq in)
    val notNorm = UTF8String.fromString(decomposed)
    assert(!(UnicodeNorm.normalize(notNorm, UnicodeNorm.ordinalOf("NFC")) eq notNorm))
  }

  test("property: equals java.text.Normalizer on random combining-mark strings") {
    import spark.implicits._
    val charGen = Gen.frequency(
      (6, Gen.alphaChar),
      (2, Gen.oneOf('́', '̈', '̊', '̧')), // combining marks
      (1, Gen.oneOf('é', 'ï', 'Å', 'ç', 'ﬁ')))
    val gen = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val seed0 = org.scalacheck.rng.Seed(7L)
    val samples = Iterator.iterate(seed0)(_.next).take(60)
      .flatMap(s => gen.apply(Gen.Parameters.default, s)).toSeq
    val got = samples.toDF("s")
      .select(call_function("graft_unicode_norm", col("s"), lit("NFC")).as("n"))
      .collect().map(_.getString(0)).toSeq
    val want = samples.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got == want)
  }

  test("null input yields null; unknown form fails registration loudly") {
    import spark.implicits._
    val r = Seq(Option.empty[String]).toDF("s")
      .select(call_function("graft_unicode_norm", col("s"), lit("NFC")).as("n"))
      .collect().head
    assert(r.isNullAt(0))
    val e = intercept[Exception] {
      Seq("x").toDF("s")
        .select(call_function("graft_unicode_norm", col("s"), lit("NFX")))
        .collect()
    }
    assert(e.getMessage.contains("unknown normalization form")
      || e.getCause != null && e.getCause.getMessage.contains("unknown normalization form"))
  }

  test("reaches whole-stage codegen in a fresh plan") {
    val plan = graft.Tables.documents(spark, sf001)
      .select(call_function("graft_unicode_norm", col("text"), lit("NFC")).as("n"))
    val code = org.apache.spark.sql.execution.debug.codegenString(
      plan.queryExecution.executedPlan)
    assert(code.contains("graft_unicode_norm"),
      s"graft_unicode_norm fell back to interpreted eval:\n$code")
  }
}
