package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Change-data-capture apply: merge a changelog batch into a keyed
  * snapshot (the MERGE/upsert every warehouse load needs once sources
  * stop being append-only — the reference's loader only knows
  * overwrite/append/upsert-partitions, `postgresql.py:26-36`; row-level
  * upsert+delete is the missing fourth mode).
  *
  * Semantics: for each key, the LAST change in `orderCols` order wins.
  * A winning `U` (upsert) replaces the snapshot row (or inserts it); a
  * winning `D` deletes it; keys with no change pass through unchanged.
  *
  * Scale shape (the 100 TB case: snapshot ≫ changelog):
  *  1. the changelog collapses to one winner per key with
  *     `max_by(struct(payload), struct(orderCols))` — a single
  *     map-side-combined aggregate, no window sort, exchange carries
  *     one row per DISTINCT changed key;
  *  2. the snapshot is reduced by a LEFT ANTI join against the winner
  *     keys — anti joins broadcast (winners are the small side by
  *     assumption), so the snapshot is NEVER shuffled; a full-outer
  *     formulation would force both sides through a sort-merge
  *     exchange because broadcast full-outer hash joins don't exist;
  *  3. surviving upserts are unioned on. Net: one shuffle of the
  *     changelog, zero shuffles of the snapshot.
  *
  * Determinism: `orderCols` must totally order changes within a key
  * (e.g. ts + a unique event id); ties would make the winner
  * arbitrary, so callers pass a tiebreaker column last.
  */
object Cdc {

  /** Apply `changes` to `base`.
    *
    * @param base      keyed snapshot; one row per key (not checked — a
    *                  duplicate-keyed base passes through duplicated,
    *                  exactly as a real table scan would surface it)
    * @param changes   changelog carrying the base's columns plus `opCol`
    * @param keys      join key column names (present on both sides)
    * @param orderCols change-ordering columns, later = newer; must be
    *                  total within a key
    * @param opCol     change kind: "U" upsert, "D" delete
    * @return the merged snapshot, schema = base's
    */
  def applyChanges(
      base: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String],
      opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "Cdc.applyChanges: keys must be non-empty")
    require(orderCols.nonEmpty, "Cdc.applyChanges: orderCols must be non-empty")
    val baseCols = base.columns.toSeq
    require(!baseCols.contains(opCol),
      s"Cdc.applyChanges: base must not carry the op column '$opCol'")
    val missing = (baseCols :+ opCol).filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"Cdc.applyChanges: changes is missing columns ${missing.mkString(", ")}")
    val payload = struct((baseCols.map(col) :+ col(opCol).as("__op")): _*)
    // one winner per key: max_by is a declarative single-pass aggregate
    // (partial max per partition, merge of partials) — the window
    // row_number formulation would sort every changelog partition
    val winners = changes
      .groupBy(keys.map(col): _*)
      .agg(max_by(payload, struct(orderCols.map(col): _*)).as("__w"))
      .select(keys.map(col) ++ Seq(col("__w")): _*)
    val untouched = base.join(winners.select(keys.map(col): _*),
      keys, "left_anti")
    val upserts = winners
      .filter(col("__w.__op") =!= lit("D"))
      .select(baseCols.map(c => col(s"__w.`$c`").as(c)): _*)
    untouched.unionByName(upserts)
  }

  /** Out-of-order-safe CDC apply: merge a change batch into a VERSIONED
    * state that keeps each key's `orderCols` and op — including DELETE
    * TOMBSTONES — so batches may arrive in any order and the state still
    * converges to the global latest-wins answer. ([[applyChanges]] is
    * the ordered-batch fast path: it needs batches applied in `orderCols`
    * order because the snapshot forgets versions; this variant pays the
    * extra ord+op columns to drop that requirement — the contract every
    * log-compacted store honors, and why they all keep tombstones:
    * dropping a deleted key outright would let an older stale upsert
    * resurrect it.)
    *
    * `state` and `changes` share one schema: keys + payload + orderCols +
    * `opCol`. Per key, the row with the greatest `orderCols` wins,
    * state's or the batch's. Read the live table with [[liveView]];
    * tombstones compact away once no older change can still arrive
    * (retention is the caller's policy).
    *
    * Scale shape: same as [[applyChanges]] — the batch collapses to one
    * winner per key, the state is touched only by anti join (broadcast)
    * + union; resolved keys join winner-side, so the state is never
    * shuffled. */
  def applyChangesVersioned(
      state: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String],
      opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty && orderCols.nonEmpty,
      "Cdc.applyChangesVersioned: keys and orderCols must be non-empty")
    val cols = state.columns.toSeq
    require(cols.contains(opCol),
      s"Cdc.applyChangesVersioned: versioned state must carry '$opCol'")
    require((orderCols :+ opCol).forall(cols.contains),
      s"Cdc.applyChangesVersioned: state must carry orderCols ${orderCols.mkString(",")}")
    val missing = cols.filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"Cdc.applyChangesVersioned: changes is missing columns ${missing.mkString(", ")}")
    def pack(df: DataFrame, as: String): DataFrame =
      df.select(keys.map(col) :+ struct(cols.filterNot(keys.contains).map(col): _*).as(as): _*)
    val ord = (side: String) => struct(orderCols.map(c => col(s"$side.$c")): _*)
    val winners = changes.groupBy(keys.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), struct(orderCols.map(col): _*)).as("__w"))
      .select(keys.map(k => col(s"__w.`$k`").as(k)) :+
        struct(cols.filterNot(keys.contains).map(c => col(s"__w.`$c`").as(c)): _*).as("__w"): _*)
    val untouched = state.join(winners.select(keys.map(col): _*), keys, "left_anti")
    // winner side is the (collapsed) batch: join STATE onto it, not the
    // reverse — a left join from winners touches only |winners| state rows
    val resolved = winners.join(pack(state, "__s"), keys, "left")
      .select(keys.map(col) :+
        when(col("__s").isNotNull && ord("__s") > ord("__w"), col("__s"))
          .otherwise(col("__w")).as("__r"): _*)
      .select(keys.map(col) ++
        cols.filterNot(keys.contains).map(c => col(s"__r.`$c`").as(c)): _*)
      .select(cols.map(col): _*)
    untouched.unionByName(resolved)
  }

  /** The queryable face of a versioned state: live rows only, version
    * bookkeeping dropped. */
  def liveView(state: DataFrame, orderCols: Seq[String],
      opCol: String = "op"): DataFrame =
    state.filter(col(opCol) =!= lit("D")).drop(opCol)

  /** SCD Type-2 history: turn a keyed changelog into validity intervals
    * — one row per VERSION with `valid_from` (the change's own time),
    * `valid_to` (the next change's time for that key, null while
    * current) and `is_current` (1 for an open interval). Deletes emit no
    * version of their own but close the previous one — the standard
    * dimension-history semantics ([[applyChanges]] keeps only the
    * latest state; this keeps the full audit trail, the reference's
    * sync_log records per-run state for the same reason).
    *
    * `tsCol` must be the first of `orderCols` (it becomes valid_from).
    * Shape: one window (partition keys, order orderCols) — a single
    * exchange + per-partition sort, the unavoidable minimum for
    * interval building; everything else is a filter. */
  def scd2History(
      changes: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String],
      opCol: String = "op"): DataFrame = {
    require(orderCols.nonEmpty, "Cdc.scd2History: orderCols must be non-empty")
    val tsCol = orderCols.head
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
    changes
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .filter(col(opCol) =!= lit("D"))
      .withColumn("valid_from", col(tsCol))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .drop(opCol)
  }

  /** Derive the CHANGE FEED between two keyed snapshots — the inverse
    * of [[applyChanges]], closing the CDC loop: given yesterday's and
    * today's table states, emit exactly the rows that changed, as
    * `op` ∈ I (insert: key only in `after`), U (update: key in both,
    * any value column differs — null-safely, via struct equality),
    * D (delete: key only in `before`). I/U rows carry the after-image,
    * D rows the before-image. Unchanged keys are absent. Applying the
    * feed (I/U as upserts, D as deletes) to `before` reproduces
    * `after` exactly — CdcSpec pins that round-trip identity.
    *
    * Scale shape: ONE full-outer join hash-partitioned on the keys —
    * both snapshots exchange once (co-location is inherent to diffing;
    * bucketed/co-partitioned tables diff exchange-free), values ride
    * as a single struct so the compare is one null-safe expression,
    * and only changed rows survive the filter. No side is collected,
    * broadcast, or windowed. Keys are assumed non-null (the usual
    * primary-key contract): a NULL key never joins, so it would
    * surface as a D + I pair rather than a U. */
  def snapshotDiff(
      before: DataFrame,
      after: DataFrame,
      keys: Seq[String],
      opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "Cdc.snapshotDiff: keys must be non-empty")
    val cols = after.columns.toSeq
    require(before.columns.toSeq == cols,
      s"Cdc.snapshotDiff: schemas differ (${before.columns.mkString(",")} vs ${cols.mkString(",")})")
    require(!cols.contains(opCol),
      s"Cdc.snapshotDiff: snapshots must not carry the op column '$opCol'")
    val vals = cols.filterNot(keys.contains)
    require(vals.nonEmpty, "Cdc.snapshotDiff: snapshots need at least one value column")
    val b = before.select(keys.map(col) :+ struct(vals.map(col): _*).as("__b"): _*)
    val a = after.select(keys.map(col) :+ struct(vals.map(col): _*).as("__a"): _*)
    b.join(a, keys, "full_outer")
      .withColumn(opCol,
        when(col("__b").isNull, lit("I"))
          .when(col("__a").isNull, lit("D"))
          .when(col("__a") <=> col("__b"), lit(null).cast("string"))
          .otherwise(lit("U")))
      .filter(col(opCol).isNotNull)
      .select(Seq(col(opCol)) ++ keys.map(col) ++ vals.map(c =>
        when(col(opCol) === "D", col(s"__b.`$c`"))
          .otherwise(col(s"__a.`$c`")).as(c)): _*)
  }

  /** [[snapshotDiff]] with BOTH images: every value column `c` rides
    * twice — `c` (the after-image, NULL on D) and `c_before` (the
    * before-image, NULL on I). This is the Debezium-shaped full feed
    * that RETRACTABLE downstream maintenance needs: an update that
    * moves a row between groups can only be applied as (-before on the
    * old group, +after on the new) when both images travel
    * ([[Incremental.applyFeed]] consumes exactly this shape). Same
    * plan as [[snapshotDiff]]: one key-partitioned full-outer join,
    * null-safe struct compare, changed rows only. */
  def snapshotDiffFull(
      before: DataFrame,
      after: DataFrame,
      keys: Seq[String],
      opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "Cdc.snapshotDiffFull: keys must be non-empty")
    val cols = after.columns.toSeq
    require(before.columns.toSeq == cols,
      s"Cdc.snapshotDiffFull: schemas differ (${before.columns.mkString(",")} vs ${cols.mkString(",")})")
    require(!cols.contains(opCol),
      s"Cdc.snapshotDiffFull: snapshots must not carry the op column '$opCol'")
    val vals = cols.filterNot(keys.contains)
    require(vals.nonEmpty, "Cdc.snapshotDiffFull: snapshots need at least one value column")
    val b = before.select(keys.map(col) :+ struct(vals.map(col): _*).as("__b"): _*)
    val a = after.select(keys.map(col) :+ struct(vals.map(col): _*).as("__a"): _*)
    b.join(a, keys, "full_outer")
      .withColumn(opCol,
        when(col("__b").isNull, lit("I"))
          .when(col("__a").isNull, lit("D"))
          .when(col("__a") <=> col("__b"), lit(null).cast("string"))
          .otherwise(lit("U")))
      .filter(col(opCol).isNotNull)
      .select(Seq(col(opCol)) ++ keys.map(col) ++
        vals.map(c => col(s"__a.`$c`").as(c)) ++
        vals.map(c => col(s"__b.`$c`").as(s"${c}_before")): _*)
  }

  /** The latest-state-per-key VIEW of a changelog alone (no base):
    * collapse to winners, drop deletes. Useful to seed a snapshot from
    * a log bootstrap — same aggregate shape as [[applyChanges]]. */
  def latestState(
      changes: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String],
      opCol: String = "op"): DataFrame = {
    val valueCols = changes.columns.toSeq.filterNot(_ == opCol)
    val payload = struct((valueCols.map(col) :+ col(opCol).as("__op")): _*)
    changes.groupBy(keys.map(col): _*)
      .agg(max_by(payload, struct(orderCols.map(col): _*)).as("__w"))
      .filter(col("__w.__op") =!= lit("D"))
      .select(valueCols.map(c => col(s"__w.`$c`").as(c)): _*)
  }
}
