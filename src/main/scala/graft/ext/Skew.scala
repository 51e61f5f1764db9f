package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY §7.3.7 / the 100 TB posture).
  *
  * AQE's skew-join split (`spark.sql.adaptive.skewJoin`, on by default
  * in the engine sessions) handles most cases at runtime. Salting is
  * the explicit fallback for the pathological shape AQE can't fix: a
  * single join key so hot that one task would still receive it whole
  * (e.g. a null-ish default account id owning half the fact table).
  *
  * [[saltedJoin]] splits every hot key's rows across `factor` synthetic
  * sub-keys on the big side and replicates the small side `factor`
  * times, so the hot key becomes `factor` parallel tasks. The salt is
  * the row's canonicalized in-partition POSITION (see [[withRowSalt]]
  * for the determinism model), so bit-identical rows spread and a
  * recomputed task re-derives the same salts. Result equality with the
  * plain join is asserted in the test suite.
  */
object Skew {

  /** Attach a per-row `__salt` column in [0, factor).
    *
    * Determinism model — the distributed-correctness contract: the
    * salt must be STABLE under task recomputation, or a fetch-failure
    * retry re-salts recomputed rows differently and the (keys, salt)
    * shuffle duplicates/loses rows downstream. Position alone
    * (`monotonically_increasing_id`) is stable only for scan-rooted
    * frames — a shuffle-rooted upstream delivers its partition in
    * nondeterministic order; pure row content (the r13 salt) collapses
    * BIT-IDENTICAL duplicate rows onto one salt — exactly the
    * hot-key-of-default-rows shape salting exists for. So: an
    * in-partition sort over every orderable column canonicalizes the
    * row order (the same trick Spark's round-robin `repartition(n)`
    * uses, SPARK-23207), after which the in-partition position is
    * deterministic given the partition's row MULTISET — identical rows
    * occupy interchangeable consecutive positions, so they spread, and
    * which copy gets which salt cannot matter. Map-typed columns are
    * unorderable and skipped from the canonicalization sort (rows tied
    * beyond them are interchangeable the same way). */
  private[graft] def withRowSalt(df: DataFrame, factor: Int): DataFrame = {
    val orderable = df.schema.fields
      .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType))
      .map(f => col(f.name)).toIndexedSeq
    // leading whole-row hash key: almost every comparison resolves on
    // one long instead of walking the row's columns (timing-neutral on
    // c45's 2-column big side; the win is wide production rows). The
    // full column list still breaks hash ties, so only genuinely
    // identical rows are interchangeable. The canonicalization sort
    // itself costs ~0.5 s per 600k-row side at sf0.1 — the measured
    // price of the replay-safety contract above.
    val canonical =
      if (orderable.isEmpty) df
      else df.sortWithinPartitions(xxhash64(orderable: _*) +: orderable: _*)
    canonical.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(factor.toLong)).cast("int"))
  }

  /** Equi-join `big ⋈ small` on `keys`, with the big side's rows spread
    * over `factor` salted sub-keys. Semantics identical to
    * `big.join(small, keys, joinType)` for inner/left joins on unique
    * small-side keys. */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      factor: Int = 16,
      joinType: String = "inner"): DataFrame = {
    require(factor > 0, "salt factor must be positive")
    val salted = withRowSalt(big, factor)
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Top-N heaviest keys with counts — the diagnosis step: run this on
    * a sample before deciding a key needs salting. */
  def keyHistogram(df: DataFrame, keys: Seq[String], topN: Int = 20): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("n_rows").desc)
      .limit(topN)

  /** Sketch-measured key-distribution shape.
    *
    *  - `skewRatio = F2_est · D_est / n²`: a uniform bag of D keys has
    *    `F2 = n²/D`, so ~1.0 reads uniform and growth means mass
    *    concentration RELATIVE to the key count. It saturates at ~D,
    *    so it cannot see a pathological LOW-cardinality bag — which is
    *    what [[hotMassLB]] is for.
    *  - `hotMassLB = F2_est / n²`: since `Σp² ≤ p_max`, this is a
    *    LOWER BOUND on the heaviest key's row fraction — the absolute
    *    per-task-mass signal (reads 1.0 when one key owns everything,
    *    1/D uniform — and a uniform D=3 bag genuinely does cap join
    *    parallelism at 3 tasks, so triggering on it is correct).
    *  - `nullRows`: NULL keys are invisible to the hash sketches but
    *    ARE a hot key for any join that keeps them (a left join's
    *    null-heavy big side hashes to one shuffle partition). */
  final case class SkewStats(
      nRows: Long, nullRows: Long, distinctEst: Double, f2Est: Double) {
    def skewRatio: Double =
      if (nRows == 0L) 1.0
      else f2Est * distinctEst / (nRows.toDouble * nRows.toDouble)
    def hotMassLB: Double =
      if (nRows == 0L) 0.0 else f2Est / (nRows.toDouble * nRows.toDouble)
    def nullFraction: Double =
      if (nRows + nullRows == 0L) 0.0 else nullRows.toDouble / (nRows + nullRows)
  }

  /** ONE-SCAN skew measurement: the KMV distinct sketch and the AMS F2
    * estimator computed in a single aggregate over `key` — at 100 TB
    * this is the whole diagnosis (bounded state, map-side merged, one
    * row collected), where [[keyHistogram]]'s exact groupBy is the
    * full per-key shuffle it exists to avoid. The md5 digest is
    * projected ONCE below the aggregate ([[Cardinality.md5Hex]]) and
    * all 17 estimator inputs slice that column; estimator geometry and
    * the distinct-estimate rule are [[Cardinality]]'s single
    * definitions, so this measurement cannot drift from the
    * oracle-checked e65/e75 arithmetic. */
  /** The measurement as a ONE-ROW FRAME — the declared-query face of
    * [[measure]] (e76 hash-checks every number against the combined
    * e65/e75 oracle arithmetic): n_rows / null_rows / d_est / f2_est
    * plus the two derived decision signals. */
  def measureFrame(df: DataFrame, key: String, k: Int = 256): DataFrame = {
    // one native digest per row projected as the [kmv, slice0..3] vector
    // (r21 — see Cardinality.md5Sketch); NULL key → NULL vector. This
    // entry point takes ARBITRARY key columns (the sync loader measures
    // date keys), so it picks the portable string form itself: string
    // and integral children digest natively (r22), anything else is
    // cast to its canonical string rendering — bit-identical to the
    // pre-r22 md5(cast(key as string)) arithmetic the oracle checks.
    val keyCol = df.schema(key).dataType match {
      case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => col(key)
      case _ => col(key).cast("string")
    }
    val hexed = df.select(Cardinality.md5Sketch(keyCol).as("__a"))
    val aggs = Seq(
      count(lit(1)).as("all_rows"),
      count(col("__a")).as("n"), // non-null keys only
      call_function("graft_kmv",
        Cardinality.kmvHashFromSketch(col("__a")), lit(k)).as("kmv")) ++
      Cardinality.amsSignSumsFromSketch(col("__a"))
    val nSq = col("n").cast("double") * col("n").cast("double")
    // Zero non-null keys (empty frame / all-NULL key) makes the sign sums
    // aggregate zero rows → NULL f2, and nSq = 0 → NaN ratios. Coalesce
    // the estimates to 0 and pin the derived signals to the SkewStats
    // degenerate-input values (skewRatio 1.0 "uniform", hotMassLB 0.0)
    // so the frame is null-free and measure() never unboxes NULL to 0.0
    // silently (ADVICE r13). On non-empty input every expression is
    // byte-identical to the e76-hash-checked arithmetic.
    hexed.agg(aggs.head, aggs.tail: _*)
      .select(col("all_rows"), col("n"),
        coalesce(Cardinality.estExpr(col("kmv"), k), lit(0.0)).as("d_est"),
        coalesce(Cardinality.amsF2Est, lit(0.0)).as("f2_est"))
      .select(col("n").as("n_rows"), (col("all_rows") - col("n")).as("null_rows"),
        col("d_est"), col("f2_est"),
        when(col("n") === 0L, lit(1.0))
          .otherwise(col("f2_est") * col("d_est") / nSq).as("skew_ratio"),
        when(col("n") === 0L, lit(0.0))
          .otherwise(col("f2_est") / nSq).as("hot_mass_lb"))
  }

  def measure(df: DataFrame, key: String, k: Int = 256): SkewStats = {
    val row = measureFrame(df, key, k).collect().head
    SkewStats(row.getAs[Long]("n_rows"), row.getAs[Long]("null_rows"),
      row.getAs[Double]("d_est"), row.getAs[Double]("f2_est"))
  }

  private val SaltableJoinTypes = Set("inner", "left", "left_outer", "leftouter")

  /** The measured join decision: sketch the big side's key shape in
    * one pass, then join PLAIN when the distribution reads uniform and
    * SALTED when any straggler signal fires — `skewRatio >= threshold`
    * (hot relative to the key count), `hotMassLB >= hotMass` (one key
    * caps parallelism in absolute terms, the signal skewRatio
    * saturates out of at low cardinality), or a null-heavy big side
    * under a left join (null keys all hash to one partition; inner
    * joins prune them, left joins keep them, and the whole-row salt
    * spreads them). Statistics feeding the physical plan the way an
    * optimizer's column stats would, with the measurement itself
    * bounded however big the table. Restricted to inner/left joins —
    * [[saltedJoin]]'s correctness scope; a replicated small side under
    * right/full semantics would fabricate null-padded rows. Returns
    * the frame plus the stats and the decision so callers can log
    * it. */
  def autoSaltedJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      threshold: Double = 4.0,
      hotMass: Double = 0.2,
      factor: Int = 16,
      joinType: String = "inner"): (DataFrame, SkewStats, Boolean) = {
    require(SaltableJoinTypes.contains(joinType.toLowerCase(java.util.Locale.ROOT)),
      s"autoSaltedJoin supports inner/left joins only, got '$joinType' — " +
        "a replicated small side under right/full semantics fabricates rows")
    val stats = measure(big, key)
    val nullStraggler =
      joinType.toLowerCase(java.util.Locale.ROOT) != "inner" &&
        stats.nullFraction >= hotMass
    val salt = stats.skewRatio >= threshold || stats.hotMassLB >= hotMass ||
      nullStraggler
    val joined =
      if (salt) saltedJoin(big, small, Seq(key), factor, joinType)
      else big.join(small, Seq(key), joinType)
    (joined, stats, salt)
  }

  /** A decomposable aggregate for [[saltedAgg]]: `alias` names the
    * output column, `op` ∈ {sum, count, min, max, avg}. Float rule:
    * two-phase summation re-associates additions, so DOUBLE inputs to
    * `sum`/`avg` must be pre-cast to decimal (the suite's `Qh.dsum`
    * discipline) if the caller needs bit-equality with the one-phase
    * plan — with decimal/integral inputs the two plans are exactly
    * equal. */
  final case class SaltedAggSpec(alias: String, op: String, input: Column)

  private val SupportedAggOps = Set("sum", "count", "min", "max", "avg")

  private def plainAggCol(a: SaltedAggSpec): Column = a.op match {
    case "sum"   => sum(a.input).as(a.alias)
    case "count" => count(a.input).as(a.alias)
    case "min"   => min(a.input).as(a.alias)
    case "max"   => max(a.input).as(a.alias)
    case "avg"   => (sum(a.input) / count(a.input)).as(a.alias)
  }

  /** Two-phase (salted partial → final) aggregation: `groupBy(keys)`
    * computed as `groupBy(keys :+ salt)` partials merged by a second
    * `groupBy(keys)` — the aggregation face of [[saltedJoin]].
    *
    * When this matters at 100 TB — and when it doesn't: for algebraic
    * aggregates Spark's map-side partial aggregation already collapses a
    * hot key to one partial row PER MAP TASK, so the hot key's reducer
    * receives #map-tasks rows, not its raw rows — plain `groupBy` is
    * usually fine. The shapes partial aggregation does NOT save are (a)
    * merge-heavy aggregation STATES, where every partial row is itself
    * large (sketches, collect-like buffers) and one reducer must merge
    * all of a hot key's partials, and (b) the distinct expansion (see
    * [[saltedCountDistinct]]). The salted plan bounds any reducer's
    * merge fan-in at the cost of one extra (tiny: keys×factor rows)
    * exchange. `avg` decomposes into (sum, count) partials — never
    * average-of-averages.
    *
    * The salt is [[withRowSalt]]'s replay-safe position salt for the
    * same reason the join uses it: a content-hash salt collapses
    * bit-identical hot rows onto one sub-key, and a nondeterministic
    * salt double-counts or loses rows when a fetch-failure retry
    * recomputes a map task after some reducers already fetched its
    * output. */
  def saltedAgg(df: DataFrame, keys: Seq[String], aggs: Seq[SaltedAggSpec],
      factor: Int = 16): DataFrame = {
    require(factor > 0, "salt factor must be positive")
    require(aggs.nonEmpty, "saltedAgg needs at least one aggregate")
    aggs.foreach(a => require(SupportedAggOps.contains(a.op),
      s"unsupported salted aggregate op '${a.op}' " +
        s"(supported: ${SupportedAggOps.toSeq.sorted.mkString(", ")})"))
    val partials = aggs.flatMap { a =>
      a.op match {
        case "avg" => Seq(sum(a.input).as(s"__ps_${a.alias}"),
          count(a.input).as(s"__pc_${a.alias}"))
        case "sum"   => Seq(sum(a.input).as(s"__p_${a.alias}"))
        case "count" => Seq(count(a.input).as(s"__p_${a.alias}"))
        case "min"   => Seq(min(a.input).as(s"__p_${a.alias}"))
        case "max"   => Seq(max(a.input).as(s"__p_${a.alias}"))
      }
    }
    val finals = aggs.map { a =>
      a.op match {
        case "avg" => (sum(col(s"__ps_${a.alias}")) / sum(col(s"__pc_${a.alias}")))
          .as(a.alias)
        case "sum"   => sum(col(s"__p_${a.alias}")).as(a.alias)
        case "count" => sum(col(s"__p_${a.alias}")).as(a.alias)
        case "min"   => min(col(s"__p_${a.alias}")).as(a.alias)
        case "max"   => max(col(s"__p_${a.alias}")).as(a.alias)
      }
    }
    withRowSalt(df, factor)
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partials.head, partials.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(finals.head, finals.tail: _*)
  }

  /** Exact COUNT(DISTINCT value) per key with the distinct expansion
    * salted BY VALUE: phase 1 groups by (keys, hash(value) % factor) and
    * counts distincts inside each sub-key, phase 2 sums the per-sub-key
    * counts. Each distinct value lands in exactly one sub-key, so the
    * sum is exact — and the value-hash salt is replay-safe by
    * construction (pure content function, no positional state).
    *
    * This is the aggregation shape partial aggregation genuinely cannot
    * save: Spark plans `COUNT(DISTINCT v)` as a two-level aggregate
    * whose first level groups by (key, v) — a hot key re-expands to one
    * row PER DISTINCT VALUE at the second exchange, and one reducer
    * counts them all. Salting caps that reducer's share at
    * ~distincts/factor. */
  def saltedCountDistinct(df: DataFrame, keys: Seq[String], valueCol: String,
      alias: String, factor: Int = 16): DataFrame = {
    require(factor > 0, "salt factor must be positive")
    df.withColumn("__vsalt",
        pmod(xxhash64(col(valueCol)), lit(factor.toLong)).cast("int"))
      .groupBy((keys.map(col) :+ col("__vsalt")): _*)
      .agg(count_distinct(col(valueCol)).as("__pd"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__pd")).as(alias))
  }

  /** The measured aggregation decision — [[autoSaltedJoin]]'s shape for
    * `groupBy`: sketch the key in one pass, aggregate PLAIN when the
    * distribution reads uniform and through [[saltedAgg]]'s two-phase
    * plan when a straggler signal fires (same `skewRatio` / `hotMassLB`
    * thresholds; NULL keys group like any value in aggregation, so the
    * join path's null signal does not apply). Rows are identical either
    * way (spec-asserted); only the physical shape changes. */
  def autoSaltedAgg(
      df: DataFrame,
      key: String,
      aggs: Seq[SaltedAggSpec],
      threshold: Double = 4.0,
      hotMass: Double = 0.2,
      factor: Int = 16): (DataFrame, SkewStats, Boolean) = {
    require(aggs.nonEmpty, "autoSaltedAgg needs at least one aggregate")
    val stats = measure(df, key)
    val salt = stats.skewRatio >= threshold || stats.hotMassLB >= hotMass
    val out =
      if (salt) saltedAgg(df, Seq(key), aggs, factor)
      else df.groupBy(col(key))
        .agg(plainAggCol(aggs.head), aggs.tail.map(plainAggCol): _*)
    (out, stats, salt)
  }
}
