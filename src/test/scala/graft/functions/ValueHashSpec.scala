package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Bit-parity of the native scalar value hashes (r21) against the
  * literal built-in chain they replaced: the oracle restates these as
  * `('0x'||substr(md5(x),1,N))::BIGINT`, so the native form must equal
  * `conv(substring(md5(x),1,N),16,10)` on every input — including
  * unicode, empties, long strings, and NULLs. */
class ValueHashSpec extends SparkSpec {
  import org.apache.spark.sql.{GraftColumns => ExpressionUtils}

  private def nat60(c: org.apache.spark.sql.Column) =
    ExpressionUtils.column(PortableValueHash60(ExpressionUtils.expression(c)))
  private def nat24(c: org.apache.spark.sql.Column) =
    ExpressionUtils.column(PortableValueHash24(ExpressionUtils.expression(c)))
  private def ref(c: org.apache.spark.sql.Column, n: Int) =
    conv(substring(md5(c), 1, n), 16, 10).cast(LongType)

  test("native 60/24-bit value hashes equal the conv(substring(md5)) chain") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 2000).map { i =>
      val len = rnd.nextInt(40)
      new String(Array.fill(len)((rnd.nextInt(0x2FFF) + 1).toChar))
    } ++ Seq("", " ", "a", "é", "́e", "0" * 1000, null)
    val df = rows.toDF("s")
    val bad = df.select(
        nat60(col("s")).as("n60"), ref(col("s"), 15).as("r60"),
        nat24(col("s")).as("n24"), ref(col("s"), 6).as("r24"))
      .filter(!(col("n60") <=> col("r60")) || !(col("n24") <=> col("r24")))
      .count()
    assert(bad == 0)
  }

  test("md5 sketch vector equals the kmvHashFromHex + amsSliceSql chain element-for-element") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 1500).map(_ =>
      new String(Array.fill(rnd.nextInt(30))((rnd.nextInt(0x2FFF) + 1).toChar))) ++
      Seq("", "x", null)
    val df = rows.toDF("s")
    val hex = md5(col("s"))
    val refArr = array(
      (conv(substring(hex, 1, 15), 16, 10).cast(LongType) + lit(1L)) +:
        (0 until 4).map(r =>
          conv(substring(hex, 1 + 8 * r, 8), 16, 10).cast(LongType)): _*)
    val bad = df.select(
        graft.ext.Cardinality.md5Sketch(col("s")).as("nat"),
        when(col("s").isNotNull, refArr).as("ref"))
      .filter(!(col("nat") <=> col("ref"))).count()
    assert(bad == 0)
  }

  test("value hashes stay native under interpreted eval (aggregate input shape)") {
    import spark.implicits._
    // the e71 shape: the hash as graft_kmv's input expression, evaluated
    // interpreted inside ObjectHashAggregate — parity with the literal
    // chain aggregated the same way
    val df = (1L to 5000L).toDF("v")
    val a = df.agg(call_function("graft_kmv",
      graft.ext.Cardinality.portableStringHash(col("v")), lit(64)).as("s"))
      .select(element_at(col("s"), -1)).head().getLong(0)
    val b = df.agg(call_function("graft_kmv",
      ref(col("v").cast("string"), 15) + lit(1L), lit(64)).as("s"))
      .select(element_at(col("s"), -1)).head().getLong(0)
    assert(a == b)
  }
}
