package graft.functions

import graft.{SparkSpec, Tables => T}
import graft.ext.Similarity
import org.apache.spark.sql.functions._

/** The native dot-product expression: bit-equality with the HOF
  * formulation, SQL availability, and codegen participation. */
class DotProductF32Spec extends SparkSpec {

  test("bit-identical to the higher-order-function fold on real embeddings") {
    val embs = T.embeddings(spark, sf001).limit(200)
    val both = embs.select(
      Similarity.dot(col("embedding"), col("embedding")).as("hof"),
      Similarity.fastDot(col("embedding"), col("embedding")).as("native"))
    val mismatches = both.filter(
      col("hof") =!= col("native") ||
        col("hof").isNull =!= col("native").isNull).count()
    assert(mismatches == 0)
  }

  test("registered for SQL: graft_dot_f32 callable from spark.sql") {
    T.embeddings(spark, sf001).createOrReplaceTempView("emb_fn_test")
    val v = spark.sql(
      """SELECT graft_dot_f32(embedding, embedding) AS d
        |FROM emb_fn_test WHERE vec_id = 0""".stripMargin)
      .collect().head.getDouble(0)
    assert(v > 0.0)
  }

  test("null array input yields null, not a crash") {
    import spark.implicits._
    val df = Seq((1, Some(Seq(1.0f, 2.0f)), None: Option[Seq[Float]]))
      .toDF("id", "a", "b")
    val r = df.select(Similarity.fastDot(col("a"), col("b")).as("d")).collect().head
    assert(r.isNullAt(0))
  }

  test("native expressions actually reach whole-stage codegen in a fresh plan") {
    val embs = T.embeddings(spark, sf001)
    val dotPlan = embs.select(
      Similarity.fastDot(col("embedding"), col("embedding")).as("d"))
    val dotCode = org.apache.spark.sql.execution.debug.codegenString(
      dotPlan.queryExecution.executedPlan)
    assert(dotCode.contains("graft_dot_f32 fused loop"),
      s"graft_dot_f32 fell back to interpreted eval:\n$dotCode")

    val docs = T.documents(spark, sf001)
    val mhPlan = docs.select(graft.ext.Dedup.shingleHashes(col("text"), 3).as("h"))
    val mhCode = org.apache.spark.sql.execution.debug.codegenString(
      mhPlan.queryExecution.executedPlan)
    assert(mhCode.contains("graft_shingle_hashes"),
      s"shingle tokenizer fell back to interpreted eval:\n$mhCode")

    val shPlan = docs.select(graft.ext.Dedup.simhashPortable(col("text")).as("sh"))
    val shCode = org.apache.spark.sql.execution.debug.codegenString(
      shPlan.queryExecution.executedPlan)
    assert(shCode.contains("graft_simhash64 fused loop"),
      s"graft_simhash64 fell back to interpreted eval:\n$shCode")
    assert(shCode.contains("graft_portable_words"),
      s"word tokenizer fell back to interpreted eval:\n$shCode")
  }

  test("interpreted eval path matches codegen (mismatched lengths use min)") {
    val e = DotProductF32(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0f, 2.0f, 3.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(10.0f, 10.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    assert(e.eval(null) == 30.0)
  }
}
