package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-distinct cardinality over text corpora via the
  * deterministic KMV sketch ([[graft.functions.KmvDistinct]]).
  *
  * The reference's serving layer aggregates exactly over its costs
  * view (`/root/reference/sql/init.sql:31-56`, `README.md` serving
  * SQL) and has no approximate-distinct capability; at 100 TB the
  * exact distinct form shuffles every distinct value. This module is the bounded-state
  * path: per-group state is `k` longs, partial aggregation combines
  * map-side, and the shuffle carries at most `groups × k × 8` bytes.
  * Because KMV is deterministic given the hash, every number it emits
  * is restated exactly by the DuckDB oracle (window `row_number <= k`
  * over distinct md5-prefix hashes) — no tolerance band needed.
  */
object Cardinality {

  /** 2^60 as an exact double — the hash-space size of the 60-bit
    * `graft_portable_words` md5-prefix family (+1 shift moves the
    * range to [1, 2^60], keeping the estimator's divisor non-zero). */
  val HashSpace: Double = (1L << 60).toDouble

  /** The KMV estimate columns for a sketch column `s` built with
    * parameter `k`: `n_kmv` (how many of the k slots are filled),
    * `kth_min` (the k-th smallest hash, null-free since every group
    * has at least one token) and `est_distinct` — exact when the
    * group had fewer than k distinct values, else the unbiased
    * `(k-1) * |H| / h_k`. */
  def estimateCols(s: Column, k: Int): Seq[Column] = Seq(
    size(s).cast("long").as("n_kmv"),
    // empty sketch (all-NULL / zero-row input): NULL kth, not an ANSI
    // element_at error — the `when` evaluates element_at lazily
    when(size(s) > 0, element_at(s, -1)).as("kth_min"),
    estExpr(s, k).as("est_distinct"))

  /** The bare estimate expression for a sketch column built with
    * parameter `k` — exact when the sketch is unsaturated (it then IS
    * the full distinct set), else `(k-1)·|H|/h_k`. THE estimator
    * definition every KMV consumer reads (e65/e67/e71/e72 and the skew
    * decision). */
  def estExpr(s: Column, k: Int): Column =
    when(size(s) < k, size(s).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(HashSpace) / element_at(s, -1).cast("double"))

  /** Cross-corpus overlap estimation via KMV sketch ALGEBRA: the union
    * of two groups' k-minimum sketches, re-truncated to the k smallest
    * (`slice(array_sort(array_union(a, b)), 1, k)` — pure built-in
    * array ops), is itself a valid KMV sketch of the set union, so
    * `|A∩B|` follows by inclusion–exclusion and Jaccard by division.
    *
    * At 100 TB this is the point of carrying sketches at all: the
    * pairwise stage runs on `groups` rows (one sketch each, broadcast
    * to a nested-loop pair join — groups are dimension-scale, e.g.
    * sources/shards/snapshots), never re-reading or joining the
    * corpora. Estimating source-pair token overlap exactly would be a
    * distinct-shuffle of every token occurrence per pair.
    */
  def kmvOverlap(docs: DataFrame, groupCol: String, textCol: String, k: Int): DataFrame = {
    val sk = docs
      .select(col(groupCol),
        explode(call_function("graft_portable_words", col(textCol))).as("h0"))
      .select(col(groupCol), (col("h0") + lit(1L)).as("h"))
      .groupBy(col(groupCol))
      .agg(call_function("graft_kmv", col("h"), lit(k)).as("kmv"))
      .select(col(groupCol), col("kmv"), estExpr(col("kmv"), k).as("est"))
    // the lshDupPairs/e56 self-join idiom: both pair sides are the SAME
    // subtree, so the sketch front (scan → tokenize → aggregate) plans
    // once and the second side reads a ReusedExchange (spec-asserted)
    val unionSk = slice(array_sort(array_union(col("a.kmv"), col("b.kmv"))), 1, k)
    val estI = greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union"))
    sk.as("a").join(broadcast(sk.as("b")), col(s"a.$groupCol") < col(s"b.$groupCol"))
      .select(col(s"a.$groupCol").as("source_a"), col(s"b.$groupCol").as("source_b"),
        col("a.est").as("est_a"), col("b.est").as("est_b"),
        estExpr(unionSk, k).as("est_union"))
      .select(col("*"), estI.as("est_intersect"))
      .select(col("*"), (col("est_intersect") / col("est_union")).as("jaccard_est"))
  }

  /** 60-bit md5-prefix hash of a column's string form, +1 shifted —
    * the engine-portable value-hash every sketch in this module uses
    * (`('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 15))::BIGINT + 1`
    * in any SQL engine). Native since r21
    * ([[graft.functions.PortableValueHash60]], bit-identical): the
    * built-in conv/substring/md5 chain ran INTERPRETED as the input of
    * the `graft_kmv` ObjectHashAggregate and was ~90% of e71's runtime
    * (guide §4 — non-codegen expression in the hot path). Since r22 the
    * column goes in UNCAST: the native expression digests string AND
    * integral children directly (an integral's decimal form is rendered
    * inside the digest, no Cast eval, no string allocation — the
    * interpreted per-row `Cast(long→string)` was the e71 residual).
    * Columns of other types (dates, floats) must be cast to string by
    * the caller — the expression rejects them loudly, keeping the
    * "engine-portable string form is the caller's choice" contract. */
  def portableStringHash(c: Column): Column =
    graft.ext.Dedup.portableHash64(c) + lit(1L)

  /** Join-cardinality estimation from KMV sketches — planner-grade
    * statistics WITHOUT running the join: sketch each side's key
    * column (one scan per table, k longs of state), estimate the
    * distinct-key overlap by the e67 union algebra, and scale by the
    * observed mean multiplicity of each side
    * (`est_overlap · (rows_a/est_a) · (rows_b/est_b)` — exact when
    * both sketches are unsaturated and multiplicities are uniform).
    * At 100 TB this is how an engine decides shuffle vs broadcast vs
    * bloom-prune BEFORE paying for the join; the declared query also
    * runs the real join so the estimate stands next to its truth.
    */
  def kmvJoinSizeEstimate(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String, k: Int): DataFrame = {
    def side(df: DataFrame, key: String, p: String): DataFrame = df.agg(
      call_function("graft_kmv", portableStringHash(col(key)), lit(k)).as(s"${p}_kmv"),
      count(col(key)).as(s"${p}_rows"))
    val unionSk = slice(array_sort(array_union(col("a_kmv"), col("b_kmv"))), 1, k)
    side(left, leftKey, "a").crossJoin(side(right, rightKey, "b"))
      .select(
        col("a_rows"), col("b_rows"),
        estExpr(col("a_kmv"), k).as("est_a"),
        estExpr(col("b_kmv"), k).as("est_b"),
        estExpr(unionSk, k).as("est_union"))
      .select(col("*"),
        greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union"))
          .as("est_overlap"))
      .select(col("a_rows"), col("b_rows"), col("est_a"), col("est_b"),
        col("est_overlap"),
        // an empty / all-NULL-key side means zero join rows — guard the
        // multiplicity divisions so the planner reads 0.0, never NaN
        when(col("est_a") === 0.0 || col("est_b") === 0.0, lit(0.0))
          .otherwise(col("est_overlap") * (col("a_rows").cast("double") / col("est_a"))
            * (col("b_rows").cast("double") / col("est_b")))
          .as("est_join_rows"))
  }

  /** The Count-Min cell index of value column `v` for sketch row `r`
    * (0-based) at width `w`: the r-th disjoint 8-hex-char slice of
    * md5, mod w — restatable in any engine as
    * `('0x' || substr(md5(v), 1+8r, 8))::BIGINT % w`. */
  private def cmsCell(v: Column, r: Int, w: Int): Column =
    conv(substring(md5(v.cast("string")), 1 + 8 * r, 8), 16, 10).cast("long") % w

  /** Token-frequency estimation via Count-Min
    * ([[graft.functions.CmsSketch]]): build one d×w grid over every
    * token occurrence (bounded state, vector-add merge), then read the
    * top-k tokens' estimates out of the sketch next to their true
    * counts. At 100 TB the grid replaces a full per-key count shuffle
    * with `d·w` longs per partition; the exact top-k here is the
    * conformance cross-check (at scale the candidates come from a
    * heavy-hitter pass and only the GRID is consulted). */
  def cmsTokenFrequencies(docs: DataFrame, textCol: String,
      w: Int, d: Int, topK: Int): DataFrame = {
    val toks = docs.select(explode(split(col(textCol), " ")).as("t"))
    val sketch = toks.agg(
      call_function("graft_cms", col("t"), lit(w), lit(d)).as("cms"))
    val top = toks.groupBy(col("t"))
      .agg(count(lit(1)).as("true_count"))
      .orderBy(col("true_count").desc, col("t"))
      .limit(topK)
    val cellReads = (0 until d).map(r =>
      element_at(col("cms"), (cmsCell(col("t"), r, w) + lit(r * w) + lit(1L)).cast("int")))
    // Spark's least() rejects a single argument — depth-1 grids read
    // their one row directly
    val est = if (d == 1) cellReads.head else least(cellReads: _*)
    top.crossJoin(broadcast(sketch))
      .select(col("t").as("token"), col("true_count"), est.as("cms_est"))
      .orderBy(col("true_count").desc, col("token"))
  }

  /** AMS F2 sketch (Alon–Matias–Szegedy 1996) — the self-join-size /
    * skew statistic: `F2 = Σ_k f_k²` is the row count of the table
    * joined with itself on `keyCol`, and `F2/n²` far above `1/distinct`
    * means heavy keys (the decision input for salting, see
    * [[Skew]]). The exact form needs the full per-key count shuffle;
    * the sketch is 16 map-side ± sums (sign = one md5 bit per
    * estimator: 4 disjoint 32-bit slices × 4 bits), `E[S²] = F2`,
    * averaged — one scan, 16 longs of state, every step restatable
    * (`1 - 2·((slice >> b) % 2)` in any engine). Returns one row:
    * (n_rows, f2_exact, f2_est) — the exact value computed alongside
    * as the conformance cross-check. */
  /** The estimator geometry shared by [[amsSelfJoinSize]], the e75
    * oracle generator and [[Skew.measure]]: (md5-slice index, bit
    * index) per ± estimator — ONE definition so the arms cannot
    * drift. */
  val AmsEstimators: Seq[(Int, Int)] =
    for { r <- 0 until 4; b <- 0 until 4 } yield (r, b)

  /** SQL text of estimator slice `r` over `key` — the same
    * `('0x'||substr(md5(...), 1+8r, 8))::BIGINT` the Spark side
    * computes via conv/substring. */
  def amsSliceSql(key: String, r: Int): String =
    s"('0x'||substr(md5(CAST($key AS VARCHAR)), ${1 + 8 * r}, 8))::BIGINT"

  /** md5 hex of a value's string form — project this ONCE below a
    * multi-estimator aggregate: ObjectHashAggregate evaluates every
    * aggregate's input expression independently (no common-
    * subexpression elimination), so computing the digest in a codegen'd
    * projection and slicing the hex column in the aggregates pays one
    * md5 per row instead of one per estimator. NULL stays NULL, so
    * null keys drop out of every downstream sum/sketch naturally. */
  def md5Hex(key: Column): Column = md5(key.cast("string"))

  /** The 60-bit KMV hash ([[portableStringHash]]) read off a
    * pre-computed md5-hex column. */
  def kmvHashFromHex(hex: Column): Column =
    conv(substring(hex, 1, 15), 16, 10).cast("long") + lit(1L)

  /** The 16 AMS ± sign sums read off a pre-computed md5-hex column —
    * THE sign-sum definition (shared by e75 and the skew decision). */
  def amsSignSums(hex: Column): Seq[Column] = AmsEstimators.map { case (r, b) =>
    sum(lit(1L) - lit(2L) *
      (shiftright(conv(substring(hex, 1 + 8 * r, 8), 16, 10).cast("long"), b) % 2))
      .as(s"s_${r}_$b")
  }

  /** One-digest sketch-input vector (r21, guide §4):
    * `graft_md5_sketch(key)` = `[kmv_hash, slice32(0..3)]` — numerically
    * the [[kmvHashFromHex]] value and the four [[amsSliceSql]] slices
    * from ONE native md5 (property-tested in ValueHashSpec). The
    * multi-estimator aggregates read `element_at`s of the projected
    * array; the hex formulation re-parsed the digest per estimator
    * INTERPRETED inside the ObjectHashAggregate (17 substring/base16
    * chains per row — most of e75/e76's runtime). */
  def md5Sketch(key: Column): Column = {
    // uncast since r22 — string and integral children digest natively
    // (see [[portableStringHash]]); cast other types to string first
    val e = org.apache.spark.sql.GraftColumns.expression(key)
    org.apache.spark.sql.GraftColumns.column(graft.functions.Md5Sketch(e))
  }

  /** The KMV hash element of a [[md5Sketch]] vector. */
  def kmvHashFromSketch(sk: Column): Column = element_at(sk, 1)

  /** [[amsSignSums]] read off a [[md5Sketch]] vector. */
  def amsSignSumsFromSketch(sk: Column): Seq[Column] =
    AmsEstimators.map { case (r, b) =>
      sum(lit(1L) - lit(2L) * (shiftright(element_at(sk, r + 2), b) % 2))
        .as(s"s_${r}_$b")
    }

  /** `Σ s² / |estimators|` over the [[amsSignSums]] columns. */
  def amsF2Est: Column =
    AmsEstimators.map { case (r, b) => col(s"s_${r}_$b") * col(s"s_${r}_$b") }
      .reduce(_ + _).cast("double") / lit(AmsEstimators.size)

  def amsSelfJoinSize(df: DataFrame, keyCol: String): DataFrame = {
    // NULL keys would silently vanish from the ± sums (md5(NULL) is
    // NULL) while still counting in n_rows/f2_exact — scope BOTH arms
    // to non-null keys so exact and estimate describe the same bag
    val rows = df.filter(col(keyCol).isNotNull)
    val sketch = rows.select(md5Sketch(col(keyCol)).as("__a"))
      .agg(count(lit(1)).as("n_rows"), amsSignSumsFromSketch(col("__a")): _*)
    val exact = rows.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")).as("f2_exact"))
    sketch.crossJoin(exact)
      .select(col("n_rows"), col("f2_exact"), amsF2Est.as("f2_est"))
  }

  /** ONE-SCAN column profiling — the data-quality sweep a warehouse
    * runs before trusting a new drop: per column, null count and
    * KMV-estimated distinct cardinality, every column's counter and
    * sketch computed in a SINGLE global aggregation over a single scan
    * (profiling 100 columns of a 100 TB table costs one pass, not 100),
    * then unpivoted to one row per column with built-in struct/explode.
    *
    * Values are hashed through `md5(CAST(col AS STRING))` so any
    * engine restates the sketch; callers pick columns whose string
    * form is engine-portable (integers, strings, dates — not floats,
    * whose formatting is engine-specific). */
  def profileColumns(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    val aggs = cols.flatMap { c =>
      // backtick-quote so a dotted name stays ONE column, not a struct
      // path; coalesce keeps an empty table at nulls=0, not a NULL sum
      require(!c.contains("`"), s"column name with backtick unsupported: $c")
      val cc = df.col(s"`$c`")
      Seq(
        coalesce(sum(when(cc.isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"${c}__nulls"),
        call_function("graft_kmv", portableStringHash(cc), lit(k))
          .as(s"${c}__kmv"))
    }
    val packed = cols.map(c => struct(
      lit(c).as("column_name"),
      col(s"`${c}__nulls`").as("n_nulls"),
      col(s"`${c}__kmv`").as("kmv")))
    // the global aggregation's partial phase runs IN the scan stage, so
    // a table under one split computes every per-column digest single-
    // core (r22, guide §2 — the e50 fan-out pattern, sub-split trigger): fan out iff
    // the scan is at most 2 splits (see Adaptive.fanOutSubSplit); identity at scale. Sketches
    // are partitioning-independent (k-smallest-distinct set, sums).
    Adaptive.fanOutSubSplit(df)
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(packed: _*)).as("p"))
      .select(col("p.column_name") +: col("p.n_nulls").as("n_nulls") +:
        estimateCols(col("p.kmv"), k): _*)
  }

  /** Distinct-token cardinality per group: single-space tokenize,
    * 60-bit md5-prefix hash per token (codegen'd, zero-allocation),
    * +1 shift, KMV-aggregate. The whole pre-aggregation front stays in
    * whole-stage codegen; the aggregate itself runs as an
    * ObjectHashAggregate with map-side partial sketches. */
  def kmvDistinctTokens(docs: DataFrame, groupCol: String, textCol: String, k: Int): DataFrame = {
    docs
      .select(col(groupCol),
        explode(call_function("graft_portable_words", col(textCol))).as("h0"))
      .select(col(groupCol), (col("h0") + lit(1L)).as("h"))
      .groupBy(col(groupCol))
      .agg(call_function("graft_kmv", col("h"), lit(k)).as("kmv"))
      .select(col(groupCol) +: estimateCols(col("kmv"), k): _*)
  }
}
