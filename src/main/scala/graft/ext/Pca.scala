package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed PCA over embedding columns (SURVEY §2.5 E3 adjacent —
  * the dimensionality-reduction front of an embedding pipeline: PCA
  * projection before ANN indexing / dedup, drift axes, whitening).
  *
  * Architecture is the classic two-phase shape for linear algebra on a
  * cluster:
  *
  *  1. '''Exact moment reduce''' — one pass over the corpus with a
  *     mergeable [[GramAggregator]] (ObjectHashAggregate: map-side
  *     partials, one tiny merge). Components are pre-quantized to
  *     integer micros ([[quantizeMicros]], the e103 float-portability
  *     rule), so the buffer is pure `Long` arithmetic: exact, overflow-
  *     safe to ~3e5 quantized magnitude × ~1e7 rows, and — crucially —
  *     '''order-free''', so the result is identical at any partitioning
  *     (a float-sum reduce would differ run to run AND engine to
  *     engine). Nothing row-scaled ever reaches the driver: the buffer
  *     is `1 + d + d(d+1)/2` longs (2,145 for d=64) regardless of
  *     corpus size.
  *  2. '''Bounded driver eigensolve''' — covariance from the exact
  *     moments, then fixed-iteration power iteration with deflation for
  *     the top-2 eigenpairs on the d×d matrix (d=64 → trivial). Every
  *     double op is written in a pinned order (left-to-right folds,
  *     explicit association) so a DuckDB oracle restating the same
  *     recurrence is bit-equal — see the e108 oracle's recursive CTE.
  *  3. '''Distributed projection''' — scores computed per row with
  *     codegen'd higher-order functions (sequential `aggregate` fold,
  *     matching DuckDB `LIST_SUM` semantics exactly, same parity
  *     contract as [[graft.functions.DotProductF32]]).
  *
  * At 100 TB: phase 1 is the only corpus-scale work — a single scan
  * with a constant-size aggregation state; phase 3 is embarrassingly
  * parallel. No shuffle carries vectors at any point.
  *
  * The fixed iteration count (default 60) is a determinism contract,
  * not a convergence heuristic: both engines run the same 60 steps and
  * compare bit-for-bit whether or not the eigengap has converged them.
  */
object Pca {

  /** Quantization scale: component ×1e6, floored. Exact on both engines
    * (f32→f64 widen is exact, one rounded multiply, floor exact). */
  val MicroScale: Double = 1000000.0

  def quantizeMicros(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(MicroScale)).cast("long"))

  /** Exact integer moments of a quantized corpus: row count, per-
    * component sums, and the full (symmetrized) second-moment matrix. */
  final case class Moments(n: Long, sums: Array[Long], gram: Array[Array[Long]])

  /** Top-2 eigenpairs of the covariance (micro² units) plus the mean
    * (micro units): everything needed to project or whiten. */
  final case class PcaModel(
      mean: Array[Double],
      v1: Array[Double], lam1: Double,
      v2: Array[Double], lam2: Double)

  /** Mergeable exact-moment aggregator. Buffer layout:
    * `[n, s_0..s_{d-1}, g_{00}, g_{01}, .., g_{0,d-1}, g_{11}, ..]`
    * (count, component sums, upper-triangular products), all `Long`.
    * Long addition is associative+commutative → the reduce is exact and
    * partitioning-independent. d=64 → 2,145 longs ≈ 17 KB of state. */
  final class GramAggregator(dim: Int)
      extends Aggregator[Array[Long], Array[Long], Array[Long]] {
    private val tri = dim * (dim + 1) / 2
    override def zero: Array[Long] = new Array[Long](1 + dim + tri)
    override def reduce(b: Array[Long], q: Array[Long]): Array[Long] = {
      require(q != null && q.length == dim,
        s"GramAggregator: expected a dim=$dim vector, got " +
          (if (q == null) "null" else s"length ${q.length}"))
      b(0) += 1L
      var i = 0
      var k = 1 + dim
      while (i < dim) {
        val qi = q(i)
        b(1 + i) += qi
        var j = i
        while (j < dim) { b(k) += qi * q(j); k += 1; j += 1 }
        i += 1
      }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: ExpressionEncoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: ExpressionEncoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** Signed [[GramAggregator]]: each row contributes `w ×` its moment
    * terms (w = +1 insert / −1 retract). Same exact-Long state, so a
    * maintained moment buffer under a change feed is BIT-IDENTICAL to
    * one recomputed from the after-corpus — integer IVM, no float
    * drift ever accumulates across feed applications. */
  final class WeightedGramAggregator(dim: Int)
      extends Aggregator[(Long, Array[Long]), Array[Long], Array[Long]] {
    private val tri = dim * (dim + 1) / 2
    override def zero: Array[Long] = new Array[Long](1 + dim + tri)
    override def reduce(b: Array[Long], row: (Long, Array[Long])): Array[Long] = {
      val (w, q) = row
      require(q != null && q.length == dim,
        s"WeightedGramAggregator: expected a dim=$dim vector, got " +
          (if (q == null) "null" else s"length ${q.length}"))
      b(0) += w
      var i = 0
      var k = 1 + dim
      while (i < dim) {
        val qi = q(i)
        b(1 + i) += w * qi
        var j = i
        while (j < dim) { b(k) += w * (qi * q(j)); k += 1; j += 1 }
        i += 1
      }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: ExpressionEncoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: ExpressionEncoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** One corpus scan → exact moments. The head() is bounded: the
    * aggregate output is a single `1 + d + d(d+1)/2`-long array
    * regardless of corpus size (never row-scaled). */
  def moments(df: DataFrame, vecCol: String, dim: Int): Moments = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new GramAggregator(dim)
    val buf: Array[Long] = df.select(quantizeMicros(col(vecCol)).as("qv"))
      .as[Array[Long]]
      .select(agg.toColumn)
      .head()
    val n = buf(0)
    val sums = buf.slice(1, 1 + dim)
    val gram = Array.ofDim[Long](dim, dim)
    var k = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) { gram(i)(j) = buf(k); gram(j)(i) = buf(k); k += 1; j += 1 }
      i += 1
    }
    Moments(n, sums, gram)
  }

  /** INCREMENTAL MAINTENANCE of the moments under a full-image change
    * feed ([[graft.etl.Cdc.snapshotDiffFull]] shape: `op` ∈ {I,U,D},
    * after-image `vecCol`, before-image `${vecCol}_before`): retract
    * the before-images, add the after-images, fold the signed delta
    * into the stored buffer. Because every term is an exact Long,
    * maintained ≡ recomputed bit-for-bit — the PCA twin of
    * `Incremental.applyFeed`, at O(|feed|) per cycle instead of a
    * corpus rescan. Op validation mirrors applyFeed: unknown codes
    * fail per-row at exec time rather than double-counting. */
  def applyMomentsFeed(
      m: Moments,
      feed: DataFrame,
      vecCol: String,
      dim: Int,
      opCol: String = "op"): Moments = {
    val missing = Seq(opCol, vecCol, s"${vecCol}_before").filterNot(feed.columns.contains)
    require(missing.isEmpty,
      s"Pca.applyMomentsFeed: feed is missing column(s) ${missing.mkString(", ")} — " +
        "expected a FULL-IMAGE change feed as produced by Cdc.snapshotDiffFull")
    val opOk = when(col(opCol).isin("I", "U", "D"), col(opCol))
      .otherwise(raise_error(concat(
        lit("Pca.applyMomentsFeed: unknown op code '"), col(opCol),
        lit("' — expected I/U/D (Cdc.snapshotDiffFull codes)"))))
    val minus = feed.filter(opOk =!= lit("I"))
      .select(lit(-1L).as("w"), quantizeMicros(col(s"${vecCol}_before")).as("qv"))
    val plus = feed.filter(opOk =!= lit("D"))
      .select(lit(1L).as("w"), quantizeMicros(col(vecCol)).as("qv"))
    val spark = feed.sparkSession
    import spark.implicits._
    val agg = new WeightedGramAggregator(dim)
    val deltaRows = minus.unionByName(plus).as[(Long, Array[Long])]
    // an empty feed has no aggregate row to head(); the delta is zero
    val delta = deltaRows.select(agg.toColumn).collect()
      .headOption.getOrElse(new Array[Long](1 + dim + dim * (dim + 1) / 2))
    val sums = Array.tabulate(dim)(i => m.sums(i) + delta(1 + i))
    val gram = Array.ofDim[Long](dim, dim)
    var k = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val v = m.gram(i)(j) + delta(k)
        gram(i)(j) = v; gram(j)(i) = v; k += 1; j += 1
      }
      i += 1
    }
    Moments(m.n + delta(0), sums, gram)
  }

  /** The [[Moments]] as an upper-triangular TABLE
    * `(i, j, sum_qq, sum_qi, sum_qj, n)` — d(d+1)/2 rows (2,080 for
    * d=64) regardless of corpus size, driver-assembled from the
    * bounded buffer (nothing row-scaled is ever collected). The
    * declared-query output shape (e107/e110) and the unit of versioned
    * streaming state (e121); [[momentsFromTable]] inverts it. */
  def momentTable(s: org.apache.spark.sql.SparkSession, mo: Moments): DataFrame = {
    import s.implicits._
    val dim = mo.sums.length
    val rows = for { i <- 0 until dim; j <- i until dim }
      yield (i.toLong, j.toLong, mo.gram(i)(j), mo.sums(i), mo.sums(j), mo.n)
    rows.toDF("i", "j", "sum_qq", "sum_qi", "sum_qj", "n")
      .orderBy(col("i"), col("j"))
  }

  /** Rebuild [[Moments]] from a persisted moment TABLE — the
    * (i, j, sum_qq, sum_qi, sum_qj, n) upper-triangular layout the
    * declared queries emit (e107/e110) and the streaming maintainer
    * versions per micro-batch. The collect is bounded by construction:
    * d(d+1)/2 rows (2,080 for d=64) regardless of corpus size — the
    * same constant-state contract as the aggregator buffer. */
  def momentsFromTable(df: DataFrame, dim: Int): Moments = {
    val rows = df.select(col("i"), col("j"), col("sum_qq"),
      col("sum_qi"), col("sum_qj"), col("n")).collect() // bounded: d(d+1)/2
    require(rows.length == dim * (dim + 1) / 2,
      s"Pca.momentsFromTable: expected ${dim * (dim + 1) / 2} upper-triangular " +
        s"rows for dim=$dim, got ${rows.length}")
    val sums = new Array[Long](dim)
    val gram = Array.ofDim[Long](dim, dim)
    var n = 0L
    rows.foreach { r =>
      val i = r.getAs[Long]("i").toInt
      val j = r.getAs[Long]("j").toInt
      val g = r.getAs[Long]("sum_qq")
      gram(i)(j) = g
      gram(j)(i) = g
      sums(i) = r.getAs[Long]("sum_qi")
      sums(j) = r.getAs[Long]("sum_qj")
      n = r.getAs[Long]("n")
    }
    Moments(n, sums, gram)
  }

  // --- driver-side eigensolve: every double op in pinned order so the
  // --- DuckDB oracle recurrence (e108) reproduces it bit-for-bit.

  private def matvec(a: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val d = v.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      var acc = 0.0
      var j = 0
      while (j < d) { acc += a(i)(j) * v(j); j += 1 }
      out(i) = acc
      i += 1
    }
    out
  }

  private def powerIterate(a: Array[Array[Double]], iters: Int): Array[Double] = {
    val d = a.length
    var v = Array.fill(d)(0.125) // exact in f64; ∥v∥=1 for d=64
    var t = 0
    while (t < iters) {
      val w = matvec(a, v)
      var acc = 0.0
      var i = 0
      while (i < d) { acc += w(i) * w(i); i += 1 }
      val nrm = math.sqrt(acc)
      v = w.map(_ / nrm)
      t += 1
    }
    v
  }

  /** Deterministic sign convention: the component with the largest |x|
    * (first index on exact ties) is made positive. ±1 multiplies are
    * exact, so this commutes with everything downstream. */
  private def signFix(v: Array[Double]): Array[Double] = {
    var best = 0
    var i = 1
    while (i < v.length) { if (math.abs(v(i)) > math.abs(v(best))) best = i; i += 1 }
    val sg = if (v(best) < 0) -1.0 else 1.0
    v.map(_ * sg)
  }

  /** Fit the top-2 PCA model: exact-moment scan + bounded eigensolve.
    * Covariance entry order is pinned: `g/n - (s_i/n)*(s_j/n)`. */
  def fit(df: DataFrame, vecCol: String, dim: Int, iters: Int = 60): PcaModel = {
    val mo = moments(df, vecCol, dim)
    require(mo.n > 0, "Pca.fit: empty corpus")
    val nd = mo.n.toDouble
    val mean = Array.tabulate(dim)(i => mo.sums(i).toDouble / nd)
    val a = Array.tabulate(dim, dim)((i, j) =>
      mo.gram(i)(j).toDouble / nd - mean(i) * mean(j))
    val v1 = powerIterate(a, iters)
    val w1 = matvec(a, v1)
    var lam1 = 0.0
    var i = 0
    while (i < dim) { lam1 += v1(i) * w1(i); i += 1 }
    // deflation, pinned association: a - ((lam*v_i)*v_j)
    val a2 = Array.tabulate(dim, dim)((i, j) => a(i)(j) - lam1 * v1(i) * v1(j))
    val v2 = powerIterate(a2, iters)
    val w2 = matvec(a2, v2)
    var lam2 = 0.0
    i = 0
    while (i < dim) { lam2 += v2(i) * w2(i); i += 1 }
    PcaModel(mean, signFix(v1), lam1, signFix(v2), lam2)
  }

  /** Distributed projection onto the model's top-2 axes (micro units).
    * `Σ_j (q_j − m_j)·v_j` via the codegen'd
    * [[graft.functions.PcaProjectExpr]] — one fused primitive loop per
    * row with identical per-element rounding and fold order to DuckDB's
    * `LIST_SUM(LIST_TRANSFORM(...))`, so scores hash-match. (The HOF
    * formulation of the same fold benched exactly linear at the
    * sf1→sf10 anchor; the native loop is the DotProductF32 rule.) */
  def project(df: DataFrame, vecCol: String, model: PcaModel): DataFrame = {
    val qv = quantizeMicros(col(vecCol))
    def score(v: Array[Double]): Column = call_function("graft_pca_project",
      qv, typedLit(model.mean.toSeq), typedLit(v.toSeq))
    df.withColumn("pc1_q", score(model.v1))
      .withColumn("pc2_q", score(model.v2))
  }
}
