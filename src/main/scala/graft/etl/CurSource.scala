package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.time.{LocalDate, YearMonth}

/** Partition-pruned parquet source — mirror of the reference's CUR
  * extract (reference src/sources/aws_cur.py:60-172) on Spark's
  * datasource machinery.
  *
  * Where the reference hand-builds `…/year={y}/month={m}/<file>.parquet` URIs
  * and loops months in the driver (aws_cur.py:64-75,134-160), this reads
  * the partition root once and expresses the month window as a predicate
  * on the Hive partition columns — `PruneFileSourcePartitions` then skips
  * out-of-range directories without listing their files, which is the
  * same I/O behavior with none of the driver-side orchestration.
  *
  * Schema drift across files (union_by_name=true, aws_cur.py:152) maps to
  * `mergeSchema`; per-partition error tolerance (aws_cur.py:162-164) maps
  * to `ignoreCorruptFiles`.
  */
object CurSource {

  final case class MonthWindow(months: Seq[YearMonth])

  /** Last `n` months ending at `asOf` (aws_cur.py:68-75) — `asOf` is an
    * explicit parameter so runs are replayable (SURVEY §7.3.3). */
  def lastMonths(n: Int, asOf: LocalDate): MonthWindow = {
    val end = YearMonth.from(asOf)
    MonthWindow((0 until n).map(end.minusMonths(_)).reverse)
  }

  /** Read a Hive-partitioned (`year=/month=`) parquet root restricted to
    * a month window + optional account predicate. All filters are plain
    * `Column`s → partition pruning + parquet row-group pushdown. */
  def read(
      spark: SparkSession,
      root: String,
      window: MonthWindow,
      accountIds: Seq[String] = Nil,
      tolerant: Boolean = true): DataFrame = {
    val base = spark.read
      .option("mergeSchema", "true")
      .option("recursiveFileLookup", "false")
      .option("ignoreCorruptFiles", tolerant.toString)
      .parquet(root)
    val monthPred = window.months
      .map(m => col("year") === m.getYear && col("month") === m.getMonthValue)
      .reduceOption(_ || _)
    val acctPred = Accounts.predicate(accountIds)
    Seq(monthPred, acctPred).flatten.foldLeft(base)(_.filter(_))
  }

  /** Flat (non-partitioned) variant for single-file tables: month window
    * expressed on a timestamp column (the C33 partition-prune mirror).
    * Takes an already-loaded frame so table-specific load handling (e.g.
    * the events nanos conversion) is applied once, in the loader. */
  def windowed(
      df: DataFrame,
      tsCol: String,
      startInclusive: String,
      endExclusive: String): DataFrame =
    df.filter(col(tsCol) >= lit(startInclusive).cast("timestamp") &&
      col(tsCol) < lit(endExclusive).cast("timestamp"))

  /** File-count existence probe (aws_cur.py:140-147 / main.py:200-205):
    * metadata-only, no data read. */
  def fileCount(spark: SparkSession, path: String): Long =
    try spark.read.parquet(path).inputFiles.length.toLong
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }
}
