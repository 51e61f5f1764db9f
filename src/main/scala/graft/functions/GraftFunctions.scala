package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** The engine's native expressions, wired into a session by ONE path:
  * `spark.sql.extensions=graft.functions.GraftExtensions`, which
  * [[graft.etl.Sessions.builder]] always sets. The extension is a static
  * conf of the SparkContext, so every session of that context carries
  * the functions — `newSession()` and a session rebuilt by a bare
  * builder's `getOrCreate()` included — with no registration call.
  *
  * A session built outside this repo (a notebook, `spark-submit`,
  * another application) must set that conf before its SparkContext
  * starts (e.g. `--conf spark.sql.extensions=graft.functions.GraftExtensions`).
  * Without it the first operator that uses one fails at analysis with
  * `UNRESOLVED_ROUTINE` naming the `graft_*` function.
  *
  * `graft_dot_f32(a, b)` and the rest are then available to SQL and to
  * `call_function` in the DataFrame API.
  */
object GraftFunctions {

  private val fns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("graft_dot_f32"),
      new ExpressionInfo(classOf[DotProductF32].getName, "graft_dot_f32"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot_f32 takes exactly 2 arguments")
        DotProductF32(children.head, children(1))
      }),
    (new FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_simhash64 takes exactly 1 argument")
        SimHash64(children.head)
      }),
    (new FunctionIdentifier("graft_subword_classes"),
      new ExpressionInfo(classOf[SubwordClasses].getName, "graft_subword_classes"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_subword_classes takes exactly 1 argument")
        SubwordClasses(children.head)
      }),
    (new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_shingle_hashes takes (string, n)")
        val n = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_shingle_hashes n must be an integer literal, got $other")
        }
        ShingleHashes(children.head, n)
      }),
    (new FunctionIdentifier("graft_portable_words"),
      new ExpressionInfo(classOf[PortableWordHashes].getName, "graft_portable_words"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_portable_words takes exactly 1 argument")
        PortableWordHashes(children.head)
      }),
    (new FunctionIdentifier("graft_portable_shingles"),
      new ExpressionInfo(classOf[PortableShingleHashes].getName, "graft_portable_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_portable_shingles takes (string, n)")
        val n = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_portable_shingles n must be an integer literal, got $other")
        }
        PortableShingleHashes(children.head, n)
      }),
    (new FunctionIdentifier("graft_portable_shingles64"),
      new ExpressionInfo(classOf[PortableShingleHashes64].getName, "graft_portable_shingles64"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_portable_shingles64 takes (string, n)")
        val n = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_portable_shingles64 n must be an integer literal, got $other")
        }
        PortableShingleHashes64(children.head, n)
      }),
    (new FunctionIdentifier("graft_portable_hash60"),
      new ExpressionInfo(classOf[PortableValueHash60].getName, "graft_portable_hash60"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_portable_hash60 takes exactly 1 argument")
        PortableValueHash60(children.head)
      }),
    (new FunctionIdentifier("graft_portable_hash24"),
      new ExpressionInfo(classOf[PortableValueHash24].getName, "graft_portable_hash24"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_portable_hash24 takes exactly 1 argument")
        PortableValueHash24(children.head)
      }),
    (new FunctionIdentifier("graft_md5_sketch"),
      new ExpressionInfo(classOf[Md5Sketch].getName, "graft_md5_sketch"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_md5_sketch takes exactly 1 argument")
        Md5Sketch(children.head)
      }),
    (new FunctionIdentifier("graft_quantize_i8"),
      new ExpressionInfo(classOf[QuantizeI8].getName, "graft_quantize_i8"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_quantize_i8 takes exactly 1 argument")
        QuantizeI8(children.head)
      }),
    (new FunctionIdentifier("graft_ivf_cells"),
      new ExpressionInfo(classOf[IvfCells].getName, "graft_ivf_cells"),
      (children: Seq[Expression]) => {
        require(children.size == 6,
          "graft_ivf_cells takes (vec, vecNorm, centMatrix, cellNorms, nprobe, dim)")
        val cents = children(2) match {
          case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData,
              org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _)) =>
            a.toFloatArray()
          case other => throw new IllegalArgumentException(
            s"graft_ivf_cells centroid matrix must be an array<float> literal, got $other")
        }
        val norms = children(3) match {
          case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData,
              org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _)) =>
            a.toDoubleArray()
          case other => throw new IllegalArgumentException(
            s"graft_ivf_cells cell norms must be an array<double> literal, got $other")
        }
        val ints = children.drop(4).map {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_ivf_cells geometry must be integer literals, got $other")
        }
        IvfCells(children.head, children(1), cents, norms, ints(0), ints(1))
      }),
    (new FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "graft_pq_encode takes (vec, bookMatrix, m, ksub, dsub)")
        val (books, ints) = pqArgs("graft_pq_encode", children)
        PqEncode(children.head, books, ints(0), ints(1), ints(2))
      }),
    (new FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "graft_pq_adc"),
      (children: Seq[Expression]) => {
        require(children.size == 4, "graft_pq_adc takes (packed, lut, m, ksub)")
        val ints = children.drop(2).map {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_pq_adc geometry must be integer literals, got $other")
        }
        PqAdc(children.head, children(1), ints(0), ints(1))
      }),
    (new FunctionIdentifier("graft_pq_lut"),
      new ExpressionInfo(classOf[PqLut].getName, "graft_pq_lut"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "graft_pq_lut takes (vec, bookMatrix, m, ksub, dsub)")
        val (books, ints) = pqArgs("graft_pq_lut", children)
        PqLut(children.head, books, ints(0), ints(1), ints(2))
      }),
    (new FunctionIdentifier("graft_pca_project"),
      new ExpressionInfo(classOf[PcaProjectExpr].getName, "graft_pca_project"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_pca_project takes (qv_array_long, mean, axis)")
        def darr(e: Expression, what: String): Array[Double] = e match {
          case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData,
              org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _)) =>
            a.toDoubleArray()
          case other => throw new IllegalArgumentException(
            s"graft_pca_project $what must be an array<double> literal, got $other")
        }
        PcaProjectExpr(children.head, darr(children(1), "mean"), darr(children(2), "axis"))
      }),
    (new FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "graft_lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "graft_lsh_buckets takes (vec, planeMatrix, tables, perTable, dim)")
        val planes = children(1) match {
          case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData,
              org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _)) =>
            a.toFloatArray()
          case other => throw new IllegalArgumentException(
            s"graft_lsh_buckets plane matrix must be an array<float> literal, got $other")
        }
        val ints = children.drop(2).map {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_lsh_buckets geometry must be integer literals, got $other")
        }
        LshBuckets(children.head, planes, ints(0), ints(1), ints(2))
      }),
    // Spark's own runtime-filter primitives (the machinery behind
    // InjectRuntimeFilter's bloom pruning), surfaced by name so library
    // code can build an EXPLICIT bloom-prune stage: aggregate a filter
    // over xxhash64(key) on the build side, embed the serialized bytes
    // as a binary literal, probe map-side on the other side. The
    // analyzer wraps the bare AggregateFunction in an AggregateExpression
    // (same path every built-in aggregate takes through the registry).
    (new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_bloom_agg takes (long_value, estimatedItems, numBits)")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head, children(1), children(2))
      }),
    (new FunctionIdentifier("graft_cms"),
      new ExpressionInfo(classOf[CmsSketch].getName, "graft_cms"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "graft_cms takes (value_string, w, d)")
        val ints = children.drop(1).map {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_cms geometry must be integer literals, got $other")
        }
        CmsSketch(children.head, ints(0), ints(1))
      }),
    (new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKByKey].getName, "graft_topk"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "graft_topk takes (key_long, id_long, k)")
        val k = children(2) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_topk k must be an integer literal, got $other")
        }
        TopKByKey(children.head, children(1), k)
      }),
    (new FunctionIdentifier("graft_unicode_norm"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_unicode_norm"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_unicode_norm takes (string, form)")
        val form = children(1) match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_unicode_norm form must be a string literal, got $other")
        }
        UnicodeNormalize(children.head, UnicodeNorm.ordinalOf(form))
      }),
    (new FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[KmvDistinct].getName, "graft_kmv"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_kmv takes (hash_long, k)")
        val k = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_kmv k must be an integer literal, got $other")
        }
        KmvDistinct(children.head, k)
      }),
    (new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_bloom_contains takes (bloom_bytes, long_value)")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))

  private def pqArgs(name: String, children: Seq[Expression]): (Array[Float], Seq[Int]) = {
    val books = children(1) match {
      case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _)) =>
        a.toFloatArray()
      case other => throw new IllegalArgumentException(
        s"$name codebook matrix must be an array<float> literal, got $other")
    }
    val ints = children.drop(2).map {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$name geometry must be integer literals, got $other")
    }
    (books, ints)
  }

  private[functions] def inject(ext: SparkSessionExtensions): Unit =
    fns.foreach(ext.injectFunction(_))
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.inject(ext)
}
