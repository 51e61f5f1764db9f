package graft.etl

import graft.{SparkSpec, Tables => T}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.time.LocalDate

/** End-to-end sync mirror (SURVEY §5.2.4): partitioned CUR-shaped
  * fixture → Sync.run → raw + normalized tables + costs view + sync_log,
  * plus O3 partition pruning proven on the physical plan. */
class SyncE2ESpec extends SparkSpec {

  /** CUR-shaped, hive-partitioned fixture derived from events testdata:
    * registry account ids, one region-ruled account, year=/month= dirs. */
  private lazy val sourceRoot: String = {
    val root = Files.createTempDirectory("graft_cur").toString
    val ids = Accounts.registry.map(_.id)
    val ev = T.events(spark, sf001)
    val cur = ev.select(
      col("ts").as("line_item_usage_start_date"),
      element_at(
        typedlit(ids), (pmod(col("user_id"), lit(ids.size)) + 1).cast("int")
      ).as("line_item_usage_account_id"),
      col("event_type").as("product_servicename"),
      when(pmod(col("user_id"), lit(3)) === 0, "us-east-1")
        .when(pmod(col("user_id"), lit(3)) === 1, "eu-west-2")
        .otherwise("ap-southeast-2").as("product_region"),
      col("value").as("line_item_unblended_cost"),
      lit("USD").as("line_item_currency_code"),
      year(col("ts")).as("year"),
      month(col("ts")).as("month"))
    cur.write.partitionBy("year", "month").parquet(s"$root/cur-a")
    root
  }

  private def cfg(wh: String) = EngineConfig(
    sourceRoot = s"file://$sourceRoot", curPaths = Seq("cur-a"),
    warehouseDir = wh, jdbcUrl = None, jdbcUser = "", jdbcPassword = "",
    schema = "s", syncMonths = 1, logLevel = "WARN")

  test("sync end-to-end: raw + normalized + costs view + sync_log") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    spark.catalog.dropTempView("costs") // durable view must not be shadowed
    val res = Sync.run(spark, cfg(wh), loader,
      Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15")))

    assert(res.tables.map(_.status) == Seq("success"))
    val raw = loader.table(spark, "raw_cur_a")
    val norm = loader.table(spark, "cur_a_normalized")
    assert(raw.count() == norm.count() && raw.count() > 0)
    // region rule enforced: the ruled account only appears in its region
    assert(raw.filter(col("line_item_usage_account_id") === "905174205951" &&
      col("product_region") =!= "ap-southeast-2").count() == 0)
    // normalized schema carries exactly the 9 declared columns (the
    // date-partitioned layout physically reorders `date` to the end;
    // the ordered serving contract is the costs view below)
    assert(norm.columns.toSet == Normalize.targetColumns.toSet)
    // the normalized table is date-partitioned and serving reads prune
    val aDay = norm.select(min(col("date"))).collect().head.getDate(0)
    val pruned = norm.filter(col("date") === aDay)
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters") && prunedPlan.contains("date"),
      s"date filter should prune partitions:\n$prunedPlan")
    assert(pruned.count() > 0)
    // costs view registered, fixed column order, serves D1/D3 shapes
    val costs = spark.table("costs")
    assert(costs.columns.toSeq == Normalize.targetColumns)
    assert(costs.count() == norm.count())
    val daily = costs.groupBy(col("date")).agg(sum(col("cost"))).count()
    assert(daily > 0)
    // sync_log row appended
    val log = loader.table(spark, "sync_log")
    assert(log.count() == 1)
    assert(log.select("status").collect().head.getString(0) == "success")
  }

  test("raw-only skips normalization; sync_log still written") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    val res = Sync.run(spark, cfg(wh), loader,
      Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15"), rawOnly = true))
    assert(res.tables.head.normRows == 0L && res.tables.head.rawRows > 0L)
    intercept[Exception] { loader.table(spark, "cur_a_normalized").collect() }
    assert(loader.table(spark, "sync_log").count() == 1)
  }

  test("failed path is isolated: error row recorded, run continues") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    val c = cfg(wh).copy(curPaths = Seq("no-such-path", "cur-a"))
    val res = Sync.run(spark, c, loader,
      Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15")))
    assert(res.tables.map(_.status) == Seq("error", "success"))
    val log = loader.table(spark, "sync_log")
    assert(log.filter(col("status") === "error").count() == 1)
  }

  test("corrupt file inside one month partition is skipped; remaining data loads") {
    // reference aws_cur.py:138-164 tolerates a corrupt month and loads the
    // rest; here a garbage parquet file lands INSIDE the synced month.
    val root = Files.createTempDirectory("graft_cur_corrupt").toString
    T.events(spark, sf001).select(
      col("ts").as("line_item_usage_start_date"),
      lit("999999999999").as("line_item_usage_account_id"),
      col("event_type").as("product_servicename"),
      col("value").as("line_item_unblended_cost"),
      year(col("ts")).as("year"), month(col("ts")).as("month"))
      .write.partitionBy("year", "month").parquet(s"$root/cur-c")
    val monthDir = new java.io.File(s"$root/cur-c/year=2024/month=1")
    assert(monthDir.isDirectory, s"fixture month dir missing: $monthDir")
    Files.write(monthDir.toPath.resolve("part-corrupt.parquet"),
      "this is not parquet".getBytes("UTF-8"))

    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    val c = EngineConfig(
      sourceRoot = s"file://$root", curPaths = Seq("cur-c"),
      warehouseDir = wh, jdbcUrl = None, jdbcUser = "", jdbcPassword = "",
      schema = "s", syncMonths = 1, logLevel = "WARN")
    val res = Sync.run(spark, c, loader,
      Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15"), allAccounts = true))
    // the data loads, AND the omission is observable: status "warning"
    // with the skipped-file count recorded (not a silent success)
    assert(res.tables.map(_.status) == Seq("warning"),
      s"corrupt file should be skipped but surfaced as a warning: ${res.tables}")
    // --no-file-audit trades the check away: same load, plain success
    val noAudit = Sync.run(spark, c, loader,
      Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15"),
        allAccounts = true, auditFiles = false))
    assert(noAudit.tables.map(_.status) == Seq("success"))
    assert(res.tables.head.skippedFiles == 1L, s"${res.tables}")
    assert(res.tables.head.error.exists(_.contains("1 planned file(s) contributed no rows")))
    assert(loader.table(spark, "raw_cur_c").count() > 0)
    // the warning lands in sync_log too
    val logRow = loader.table(spark, "sync_log").collect().head
    assert(logRow.getAs[String]("status") == "warning")
  }

  test("file audit ignores out-of-window months: no spurious warning") {
    // regression (round-4 ADVICE high): Dataset.inputFiles ignores
    // partition filters, so a root holding months OUTSIDE the sync window
    // — the normal production shape as CUR roots accumulate — counted
    // every out-of-window file as planned-but-unread and flipped healthy
    // syncs to "warning". The planned set must come from the pruned
    // physical plan instead.
    val root = Files.createTempDirectory("graft_cur_multi").toString
    val ev = T.events(spark, sf001).select(
      col("ts").as("line_item_usage_start_date"),
      lit("999999999999").as("line_item_usage_account_id"),
      col("event_type").as("product_servicename"),
      col("value").as("line_item_unblended_cost"))
    // two months on disk: January as-is plus a February-shifted copy
    ev.unionAll(ev.withColumn("line_item_usage_start_date",
        add_months(col("line_item_usage_start_date"), 1).cast("timestamp")))
      .withColumn("year", year(col("line_item_usage_start_date")))
      .withColumn("month", month(col("line_item_usage_start_date")))
      .write.partitionBy("year", "month").parquet(s"$root/cur-m")
    assert(new java.io.File(s"$root/cur-m/year=2024/month=2").isDirectory)

    val window = CurSource.lastMonths(1, LocalDate.parse("2024-01-15"))
    val pruned = Sync.prunedScan(spark, s"file://$root/cur-m", window)
    // inputFiles sees both months; the physical plan plans only January
    assert(pruned.inputFiles.exists(_.contains("month=2")),
      "fixture must reproduce the inputFiles-over-counts condition")
    assert(Sync.plannedFileCount(pruned) < pruned.inputFiles.length)
    assert(Sync.auditSkippedFiles(pruned) == 0L)

    // and end-to-end: a healthy sync over the multi-month root is a
    // plain success, not a warning
    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    val c = EngineConfig(
      sourceRoot = s"file://$root", curPaths = Seq("cur-m"),
      warehouseDir = wh, jdbcUrl = None, jdbcUser = "", jdbcPassword = "",
      schema = "s", syncMonths = 1, logLevel = "WARN")
    val res = Sync.run(spark, c, loader,
      Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15"), allAccounts = true))
    assert(res.tables.map(_.status) == Seq("success"), s"${res.tables}")
    assert(res.tables.head.skippedFiles == 0L)
  }

  test("production CUR shape: multi-account root, out-of-window months, corrupt file") {
    // The object-store layout a real deployment syncs (VERDICT r5 gap 2):
    // one root holding several per-account export paths, each
    // accumulating months beyond the sync window, with a corrupt file
    // inside the window of ONE account. The audit must warn exactly on
    // that account, ignore the out-of-window files everywhere, and the
    // run must stay month-windowed and account-filtered end-to-end.
    val root = Files.createTempDirectory("graft_cur_prod").toString
    val ids = Accounts.registry.map(_.id)
    val ev = T.events(spark, sf001).select(
      col("ts").as("line_item_usage_start_date"),
      element_at(
        typedlit(ids), (pmod(col("user_id"), lit(ids.size)) + 1).cast("int")
      ).as("line_item_usage_account_id"),
      col("event_type").as("product_servicename"),
      when(pmod(col("user_id"), lit(3)) === 0, "us-east-1")
        .when(pmod(col("user_id"), lit(3)) === 1, "eu-west-2")
        .otherwise("ap-southeast-2").as("product_region"),
      col("value").as("line_item_unblended_cost"),
      lit("USD").as("line_item_currency_code"))
    // two months on disk per account path (January + a shifted February)
    val twoMonths = ev.unionAll(ev.withColumn("line_item_usage_start_date",
        add_months(col("line_item_usage_start_date"), 1).cast("timestamp")))
      .withColumn("year", year(col("line_item_usage_start_date")))
      .withColumn("month", month(col("line_item_usage_start_date")))
    Seq("cur-acct1", "cur-acct2").foreach(p =>
      twoMonths.write.partitionBy("year", "month").parquet(s"$root/$p"))
    // a corrupt file inside the SYNCED month of the second account only
    val badDir = new java.io.File(s"$root/cur-acct2/year=2024/month=1")
    assert(badDir.isDirectory, s"fixture month dir missing: $badDir")
    Files.write(badDir.toPath.resolve("part-corrupt.parquet"),
      "not parquet".getBytes("UTF-8"))

    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    val c = EngineConfig(
      sourceRoot = s"file://$root", curPaths = Seq("cur-acct1", "cur-acct2"),
      warehouseDir = wh, jdbcUrl = None, jdbcUser = "", jdbcPassword = "",
      schema = "s", syncMonths = 1, logLevel = "WARN")
    spark.catalog.dropTempView("costs")
    val res = Sync.run(spark, c, loader,
      Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15")))

    // per-account isolation: the healthy account is a clean success (the
    // out-of-window February files must NOT read as skipped), the
    // corrupted one warns with exactly its one bad file counted
    assert(res.tables.map(t => (t.table, t.status, t.skippedFiles)) ==
      Seq(("cur_acct1", "success", 0L), ("cur_acct2", "warning", 1L)), s"${res.tables}")
    // both loaded, month-windowed: nothing from February leaked in
    for (t <- Seq("raw_cur_acct1", "raw_cur_acct2")) {
      val raw = loader.table(spark, t)
      assert(raw.count() > 0)
      assert(raw.filter(col("line_item_usage_start_date") >=
        lit("2024-02-01").cast("timestamp")).count() == 0, s"$t leaked out-of-window rows")
    }
    // account predicate applied (region-ruled account stays in its region)
    assert(loader.table(spark, "raw_cur_acct1")
      .filter(col("line_item_usage_account_id") === "905174205951" &&
        col("product_region") =!= "ap-southeast-2").count() == 0)
    // the costs view unions BOTH accounts' normalized tables
    val costs = spark.sql("SELECT count(*) FROM costs").collect().head.getLong(0)
    assert(costs == loader.table(spark, "cur_acct1_normalized").count() +
      loader.table(spark, "cur_acct2_normalized").count())
    // one sync_log row per account, statuses preserved
    val log = loader.table(spark, "sync_log")
      .select("source_name", "status").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(log == Seq(("cur_acct1", "success"), ("cur_acct2", "warning")), log.toString)
  }

  test("incremental sync accumulates months; replace mode keeps window-only semantics") {
    // the 100 TB shape: month N's sync must not rewrite months 1..N-1.
    // Fixture holds January + February; sync each month separately in
    // incremental mode, then assert both persist and a re-sync of
    // February is idempotent (dynamic overwrite of exactly its dates).
    val root = Files.createTempDirectory("graft_cur_inc").toString
    val ev = T.events(spark, sf001).select(
      col("ts").as("line_item_usage_start_date"),
      lit("999999999999").as("line_item_usage_account_id"),
      col("event_type").as("product_servicename"),
      col("value").as("line_item_unblended_cost"))
    ev.unionAll(ev.withColumn("line_item_usage_start_date",
        add_months(col("line_item_usage_start_date"), 1).cast("timestamp")))
      .withColumn("year", year(col("line_item_usage_start_date")))
      .withColumn("month", month(col("line_item_usage_start_date")))
      .write.partitionBy("year", "month").parquet(s"$root/cur-i")
    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    val c = EngineConfig(
      sourceRoot = s"file://$root", curPaths = Seq("cur-i"),
      warehouseDir = wh, jdbcUrl = None, jdbcUser = "", jdbcPassword = "",
      schema = "s", syncMonths = 1, logLevel = "WARN")
    def run(asOf: String) = Sync.run(spark, c, loader,
      Sync.Options(months = 1, asOf = LocalDate.parse(asOf),
        allAccounts = true, incremental = true))
    assert(run("2024-01-15").tables.map(_.status) == Seq("success"))
    val janNorm = loader.table(spark, "cur_i_normalized").count()
    assert(janNorm > 0)
    assert(run("2024-02-15").tables.map(_.status) == Seq("success"))
    val norm = loader.table(spark, "cur_i_normalized")
    // January survived February's sync, and February landed
    assert(norm.filter(month(col("date")) === 1).count() == janNorm)
    val febNorm = norm.filter(month(col("date")) === 2).count()
    assert(febNorm > 0)
    // raw accumulates by month partition too
    val raw = loader.table(spark, "raw_cur_i")
    assert(raw.filter(col("month") === 1).count() > 0 &&
      raw.filter(col("month") === 2).count() > 0)
    // re-syncing February is idempotent (its dates replaced, not doubled)
    assert(run("2024-02-15").tables.map(_.status) == Seq("success"))
    val norm2 = loader.table(spark, "cur_i_normalized")
    assert(norm2.filter(month(col("date")) === 2).count() == febNorm)
    assert(norm2.filter(month(col("date")) === 1).count() == janNorm)
    // contrast: plain replace mode leaves ONLY the synced window
    val wh2 = Files.createTempDirectory("graft_wh").toString
    val loader2 = new ParquetLoader(wh2, "s")
    val c2 = c.copy(warehouseDir = wh2)
    Sync.run(spark, c2, loader2, Sync.Options(months = 1,
      asOf = LocalDate.parse("2024-01-15"), allAccounts = true))
    Sync.run(spark, c2, loader2, Sync.Options(months = 1,
      asOf = LocalDate.parse("2024-02-15"), allAccounts = true))
    assert(loader2.table(spark, "cur_i_normalized")
      .filter(month(col("date")) === 1).count() == 0)
  }

  test("incremental sync excludes malformed-date rows and preserves prior windows") {
    import spark.implicits._
    // STRING usage dates, one unparseable per month: the null date
    // partition is shared across windows, so incremental mode must
    // exclude (and surface) those rows instead of letting month 2's
    // dynamic overwrite silently delete month 1's
    val root = Files.createTempDirectory("graft_cur_nulldate").toString
    val rows = Seq(
      ("2024-01-05 10:00:00", "jan-ok-1", 1.0, 2024, 1),
      ("2024-01-06 11:00:00", "jan-ok-2", 2.0, 2024, 1),
      ("not-a-date",          "jan-bad",  3.0, 2024, 1),
      ("2024-02-05 10:00:00", "feb-ok",   4.0, 2024, 2),
      ("garbage",             "feb-bad",  5.0, 2024, 2))
      .toDF("line_item_usage_start_date", "product_servicename",
        "line_item_unblended_cost", "year", "month")
      .withColumn("line_item_usage_account_id", lit("999999999999"))
    rows.write.partitionBy("year", "month").parquet(s"$root/cur-n")
    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    val c = EngineConfig(
      sourceRoot = s"file://$root", curPaths = Seq("cur-n"),
      warehouseDir = wh, jdbcUrl = None, jdbcUser = "", jdbcPassword = "",
      schema = "s", syncMonths = 1, logLevel = "WARN")
    def run(asOf: String) = Sync.run(spark, c, loader,
      Sync.Options(months = 1, asOf = LocalDate.parse(asOf),
        allAccounts = true, incremental = true))
    assert(run("2024-01-15").tables.map(_.status) == Seq("success"))
    val norm1 = loader.table(spark, "cur_n_normalized")
    assert(norm1.count() == 2L) // jan-bad excluded, surfaced on stderr
    assert(norm1.filter(col("date").isNull).count() == 0L)
    assert(run("2024-02-15").tables.map(_.status) == Seq("success"))
    val norm2 = loader.table(spark, "cur_n_normalized")
    // January's parseable rows survived February's incremental sync
    assert(norm2.filter(month(col("date")) === 1).count() == 2L)
    assert(norm2.filter(month(col("date")) === 2).count() == 1L)
    // malformed rows remain available in raw for reprocessing
    assert(loader.table(spark, "raw_cur_n").count() == 5L)
  }

  test("incremental sync excludes out-of-window dates instead of clobbering prior windows") {
    import spark.implicits._
    // A month export can carry rows DATED into a prior month (refunds,
    // adjustments, boundary timestamps). Their date partitions belong to
    // the prior window, so February's dynamic overwrite must not replace
    // January's date=2024-01-05 partition with only February's stray row.
    val root = Files.createTempDirectory("graft_cur_oow").toString
    val rows = Seq(
      ("2024-01-05 10:00:00", "jan-ok-1",  1.0, 2024, 1),
      ("2024-01-06 11:00:00", "jan-ok-2",  2.0, 2024, 1),
      ("2024-02-05 10:00:00", "feb-ok",    4.0, 2024, 2),
      // the stray: February's export, January's date
      ("2024-01-05 09:00:00", "feb-stray", -1.0, 2024, 2))
      .toDF("line_item_usage_start_date", "product_servicename",
        "line_item_unblended_cost", "year", "month")
      .withColumn("line_item_usage_account_id", lit("999999999999"))
    rows.write.partitionBy("year", "month").parquet(s"$root/cur-o")
    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    val c = EngineConfig(
      sourceRoot = s"file://$root", curPaths = Seq("cur-o"),
      warehouseDir = wh, jdbcUrl = None, jdbcUser = "", jdbcPassword = "",
      schema = "s", syncMonths = 1, logLevel = "WARN")
    def run(asOf: String) = Sync.run(spark, c, loader,
      Sync.Options(months = 1, asOf = LocalDate.parse(asOf),
        allAccounts = true, incremental = true))
    assert(run("2024-01-15").tables.map(_.status) == Seq("success"))
    assert(loader.table(spark, "cur_o_normalized").count() == 2L)
    assert(run("2024-02-15").tables.map(_.status) == Seq("success"))
    val norm = loader.table(spark, "cur_o_normalized")
    // BOTH January rows survived (date=2024-01-05 not replaced by the
    // stray), February loaded only its in-window row
    assert(norm.filter(month(col("date")) === 1).count() == 2L)
    assert(norm.filter(month(col("date")) === 2).count() == 1L)
    // the stray remains in raw's February partition for reprocessing
    assert(loader.table(spark, "raw_cur_o").filter(col("month") === 2).count() == 2L)
  }

  test("object-store contract: sync, audit, pruning and compaction over graftfs://") {
    // VERDICT r6 gap 2: every other test reads file:// — this one runs
    // the production shape over a NON-file scheme (a RawLocalFileSystem
    // alias registered as graftfs://), source AND warehouse, proving no
    // path in glob/partition-discovery/audit/write/compact semantics
    // depends on file: or java.io.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfs.impl", classOf[GraftFileSystem].getName)
    // fixture: two months on disk, a corrupt file inside the synced month
    val root = Files.createTempDirectory("graft_cur_ofs").toString
    val ev = T.events(spark, sf001).select(
      col("ts").as("line_item_usage_start_date"),
      lit("999999999999").as("line_item_usage_account_id"),
      col("event_type").as("product_servicename"),
      col("value").as("line_item_unblended_cost"))
    ev.unionAll(ev.withColumn("line_item_usage_start_date",
        add_months(col("line_item_usage_start_date"), 1).cast("timestamp")))
      .withColumn("year", year(col("line_item_usage_start_date")))
      .withColumn("month", month(col("line_item_usage_start_date")))
      .write.partitionBy("year", "month").parquet(s"$root/cur-g")
    val monthDir = new java.io.File(s"$root/cur-g/year=2024/month=1")
    assert(monthDir.isDirectory)
    Files.write(monthDir.toPath.resolve("part-corrupt.parquet"),
      "not parquet".getBytes("UTF-8"))

    // partition pruning plans only January THROUGH the graftfs scheme
    val window = CurSource.lastMonths(1, LocalDate.parse("2024-01-15"))
    val pruned = Sync.prunedScan(spark, s"graftfs://$root/cur-g", window)
    val planned = pruned.inputFiles
    assert(planned.nonEmpty && planned.forall(_.startsWith("graftfs://")),
      s"scan must resolve through graftfs, got ${planned.take(3).mkString(",")}")
    // inputFiles ignores partition filters (sees both months); the PLAN
    // prunes to January only — the same contract the file: tests assert
    assert(planned.exists(_.contains("month=2")))
    assert(Sync.plannedFileCount(pruned) < planned.length)
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters") && prunedPlan.contains("2024"))

    // full sync: graftfs source root AND graftfs warehouse
    val wh = Files.createTempDirectory("graft_wh_ofs").toString
    val loader = new ParquetLoader(s"graftfs://$wh", "s")
    val c = EngineConfig(
      sourceRoot = s"graftfs://$root", curPaths = Seq("cur-g"),
      warehouseDir = s"graftfs://$wh", jdbcUrl = None, jdbcUser = "",
      jdbcPassword = "", schema = "s", syncMonths = 1, logLevel = "WARN")
    spark.catalog.dropTempView("costs")
    val res = Sync.run(spark, c, loader,
      Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15"), allAccounts = true))
    // the file audit sees the corrupt file over graftfs (planned-vs-read)
    assert(res.tables.map(t => (t.status, t.skippedFiles)) == Seq(("warning", 1L)),
      s"${res.tables}")
    // ensureNamespace + writes landed under the graftfs warehouse
    assert(new java.io.File(s"$wh/s/raw_cur_g").isDirectory)
    val raw = loader.table(spark, "raw_cur_g")
    val rawCount = raw.count()
    assert(rawCount > 0)
    assert(raw.inputFiles.forall(_.startsWith("graftfs://")))
    // month-windowed: February stayed out
    assert(raw.filter(col("line_item_usage_start_date") >=
      lit("2024-02-01").cast("timestamp")).count() == 0)
    // the costs view serves through the scheme too
    assert(spark.sql("SELECT count(*) FROM costs").collect().head.getLong(0) ==
      loader.table(spark, "cur_g_normalized").count())

    // compaction through the FileSystem API: one manifest route on this
    // scheme as on every other — generation 1 retires the base dir, then
    // generation 2 retires generation 1
    for (gen <- Seq("raw_cur_g__v00001", "raw_cur_g__v00002")) {
      val (before, after) = loader.compact(spark, "raw_cur_g")
      assert(before > 0 && after <= before, s"compact $before -> $after")
      assert(new java.io.File(s"$wh/s/raw_cur_g__manifest").isFile)
      assert(new java.io.File(s"$wh/s/$gen").isDirectory)
      val resolved = loader.table(spark, "raw_cur_g")
      assert(resolved.count() == rawCount)
      assert(resolved.inputFiles.forall(f => f.startsWith("graftfs://") && f.contains(gen)),
        "reads must resolve the committed generation through graftfs")
    }
    assert(!new java.io.File(s"$wh/s/raw_cur_g").exists,
      "retired base generation must be cleaned up")
    assert(!new java.io.File(s"$wh/s/raw_cur_g__v00001").exists,
      "retired generation 1 must be cleaned up")

    // incremental mode over the non-file scheme: dynamic partition
    // overwrite (directory-level staging/commit inside the writer) and
    // the migration guard's k=-chain walk both run through the
    // FileSystem API — February's sync must accumulate next to January
    // in the graftfs warehouse, not clobber it
    val whI = Files.createTempDirectory("graft_wh_ofs_inc").toString
    val loaderI = new ParquetLoader(s"graftfs://$whI", "s")
    val cI = c.copy(warehouseDir = s"graftfs://$whI")
    def runInc(asOf: String) = Sync.run(spark, cI, loaderI,
      Sync.Options(months = 1, asOf = LocalDate.parse(asOf),
        allAccounts = true, incremental = true))
    assert(runInc("2024-01-15").tables.map(_.status) == Seq("warning")) // the corrupt file
    val jan = loaderI.table(spark, "cur_g_normalized").count()
    assert(jan > 0)
    assert(runInc("2024-02-15").tables.map(_.status) == Seq("success"))
    val norm = loaderI.table(spark, "cur_g_normalized")
    assert(norm.filter(month(col("date")) === 1).count() == jan,
      "January must survive February's incremental sync over graftfs")
    assert(norm.filter(month(col("date")) === 2).count() > 0)
  }

  test("s3a surface: EngineConfig fs.s3a.* plumbing + manifest commit selected by scheme") {
    // VERDICT r14 item 5: the conf path the sandbox can't exercise live
    // (no hadoop-aws jar, no egress), driven offline by binding
    // fs.s3a.impl to a local-backed stub. Everything ELSE is the real
    // code: EngineConfig env parsing, Sessions.applyS3a, CurSource
    // pruning over s3a:// URIs, the sync, and the manifest/pointer
    // compaction commit.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[S3aStubFileSystem].getName)
    val root = Files.createTempDirectory("graft_cur_s3a").toString
    val wh = Files.createTempDirectory("graft_wh_s3a").toString
    val env = Map(
      "AWS_ACCESS_KEY_ID" -> "AKIATEST",
      "AWS_SECRET_ACCESS_KEY" -> "testsecret",
      "AWS_REGION" -> "eu-west-2",
      "S3_ENDPOINT" -> "http://localhost:9000",
      "S3_PATH_STYLE_ACCESS" -> "true",
      "SOURCE_ROOT" -> s"s3a://$root", "CUR_PATHS" -> "cur-s3",
      "WAREHOUSE_DIR" -> s"s3a://$wh")
    val c = EngineConfig.fromEnv(env)
    // the conf map carries exactly the provided keys; an unconfigured
    // env contributes nothing (local runs stay clean)
    assert(EngineConfig.fromEnv(Map.empty).s3aHadoopConf.isEmpty)
    Sessions.applyS3a(spark, c)
    assert(hc.get("fs.s3a.access.key") == "AKIATEST")
    assert(hc.get("fs.s3a.secret.key") == "testsecret")
    assert(hc.get("fs.s3a.endpoint.region") == "eu-west-2")
    assert(hc.get("fs.s3a.endpoint") == "http://localhost:9000")
    assert(hc.get("fs.s3a.path.style.access") == "true")
    // applyS3a must not clobber the deployment's impl binding
    assert(hc.get("fs.s3a.impl") == classOf[S3aStubFileSystem].getName)

    // one-month fixture; scan plans and prunes THROUGH the s3a scheme
    T.events(spark, sf001).select(
        col("ts").as("line_item_usage_start_date"),
        lit("999999999999").as("line_item_usage_account_id"),
        col("event_type").as("product_servicename"),
        col("value").as("line_item_unblended_cost"))
      .withColumn("year", year(col("line_item_usage_start_date")))
      .withColumn("month", month(col("line_item_usage_start_date")))
      .write.partitionBy("year", "month").parquet(s"$root/cur-s3")
    val window = CurSource.lastMonths(1, LocalDate.parse("2024-01-15"))
    val pruned = Sync.prunedScan(spark, s"s3a://$root/cur-s3", window)
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.startsWith("s3a://")),
      "scan must resolve through the s3a scheme")

    // full sync with s3a source AND warehouse
    val loader = new ParquetLoader(s"s3a://$wh", "s")
    spark.catalog.dropTempView("costs")
    val res = Sync.run(spark, c, loader,
      Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15"),
        allAccounts = true))
    assert(res.tables.map(_.status) == Seq("success"), s"${res.tables}")
    val rawCount = loader.table(spark, "raw_cur_s3").count()
    assert(rawCount > 0)

    // compaction commits through the manifest (rename is a copy+delete
    // on a real store, so only the one-object PUT is a safe commit point)
    val (before, after) = loader.compact(spark, "raw_cur_s3")
    assert(before > 0 && after <= before, s"compact $before -> $after")
    assert(new java.io.File(s"$wh/s/raw_cur_s3__manifest").isFile,
      "s3a compaction must commit via the manifest")
    assert(loader.table(spark, "raw_cur_s3").count() == rawCount)
  }

  test("sync rejects a zero-month window before touching the warehouse") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    intercept[IllegalArgumentException] {
      Sync.run(spark, cfg(wh), loader,
        Sync.Options(months = 0, asOf = LocalDate.parse("2024-01-15")))
    }
    assert(!new java.io.File(s"$wh/s/raw_cur_a").exists)
  }

  test("durable costs view: CREATE OR REPLACE VIEW over the parquet sink") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val loader = new ParquetLoader(wh, "s")
    // another suite may have left a temp view named `costs`; the durable
    // flavor must resolve from the catalog, so clear any shadow first
    spark.catalog.dropTempView("costs")
    Sync.run(spark, cfg(wh), loader,
      Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15")))
    // the view is catalog DDL (not a temp-view handle): a fresh statement
    // against the catalog resolves it, and its definition addresses the
    // parquet sink directly
    val cnt = spark.sql("SELECT count(*) FROM costs").collect().head.getLong(0)
    assert(cnt > 0 && cnt == loader.table(spark, "cur_a_normalized").count())
    assert(spark.catalog.tableExists("costs"))
  }

  test("durable costs view returns the same rows after compaction on file: and s3a") {
    // compaction moves a table's live directory to a new generation; the
    // path-based `costs` view Sync created before it must follow
    spark.sparkContext.hadoopConfiguration.set(
      "fs.s3a.impl", classOf[S3aStubFileSystem].getName)
    for (scheme <- Seq("", "s3a://")) {
      val wh = scheme + Files.createTempDirectory("graft_wh_view").toString
      val loader = new ParquetLoader(wh, "s")
      spark.catalog.dropTempView("costs")
      Sync.run(spark, cfg(wh), loader,
        Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15")))
      def costs = spark.sql("SELECT count(*) FROM costs").collect().head.getLong(0)
      val before = costs
      assert(before > 0)
      // twice: the first compaction retires the base dir, the second the
      // generation the first one re-pointed the view at
      for (_ <- 1 to 2) {
        loader.compact(spark, "cur_a_normalized")
        assert(costs == before, s"costs over '$wh' after compaction")
      }
    }
  }

  test("O3: month window prunes partitions in the physical plan") {
    val window = CurSource.lastMonths(1, LocalDate.parse("2024-01-15"))
    val df = CurSource.read(spark, s"file://$sourceRoot/cur-a", window)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("(year") && plan.contains("2024"))
    // only January files are actually read
    val files = df.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("year=2024/month=1")))
    // an out-of-window month reads nothing
    val empty = CurSource.read(spark, s"file://$sourceRoot/cur-a",
      CurSource.lastMonths(1, LocalDate.parse("2023-06-15")))
    assert(empty.count() == 0)
  }

  test("readBack normalization is only taken when resolution is sink-independent") {
    // canonical underscore CUR headers are fixpoints of loader cleaning
    assert(Sync.resolutionAgrees(
      Seq("line_item_usage_start_date", "line_item_unblended_cost"), Normalize.awsCur))
    // raw CUR v1 slash headers clean identically transform- and loader-side
    assert(Sync.resolutionAgrees(
      Seq("lineItem/UsageStartDate", "lineItem/UnblendedCost"), Normalize.awsCur))
    // a dashed header matches an alternative only AFTER the loader rewrite
    // (`usage-start-date` -> `usage_start_date`): the read-back copy would
    // bind a column the direct path NULL-fills, so the paths disagree
    assert(!Sync.resolutionAgrees(
      Seq("usage-start-date", "line_item_unblended_cost"), Normalize.awsCur))
    // ...and a header that the loader rewrite makes COLLIDE with the
    // primary shifts first-wins dedupe: positions diverge, must disagree
    assert(!Sync.resolutionAgrees(
      Seq("product region", "product_region"), Normalize.awsCur))
  }

  test("lastMonths window is inclusive-backwards from asOf") {
    val w = CurSource.lastMonths(3, LocalDate.parse("2024-03-10"))
    assert(w.months.map(_.toString) == Seq("2024-01", "2024-02", "2024-03"))
  }

  /** CUR fixture whose January rows concentrate on ONE date (hotShare of
    * `n` rows on 2024-01-10, the rest spread over the month). */
  private def skewedFixture(n: Int, hotShare: Double): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cur_skew").toString
    val ids = Accounts.registry.map(_.id)
    val hot = (n * hotShare).toInt
    (1 to n).map { i =>
      val day = if (i <= hot) 10 else 1 + (i % 28)
      (java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"),
        ids(i % ids.size), "svc", "ap-southeast-2", i.toDouble, "USD", 2024, 1)
    }.toDF("line_item_usage_start_date", "line_item_usage_account_id",
        "product_servicename", "product_region", "line_item_unblended_cost",
        "line_item_currency_code", "year", "month")
      .write.partitionBy("year", "month").parquet(s"$root/cur-a")
    root
  }

  private def filesPerDate(wh: String, date: String): Int = {
    val dir = new java.io.File(s"$wh/s/cur_a_normalized/date=$date")
    Option(dir.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
  }

  test("--auto-salt: a hot date writes through parallel tasks; uniform windows stay 1-file-per-date") {
    // the sketch decision must fire: one date owns 90% of the window
    val skewRoot = skewedFixture(4000, 0.9)
    def cfgAt(root: String, wh: String) = EngineConfig(
      sourceRoot = s"file://$root", curPaths = Seq("cur-a"), warehouseDir = wh,
      jdbcUrl = None, jdbcUser = "", jdbcPassword = "", schema = "s",
      syncMonths = 1, logLevel = "WARN")
    val opts = Sync.Options(months = 1, asOf = LocalDate.parse("2024-01-15"),
      allAccounts = true, autoSalt = true)

    val whSalted = Files.createTempDirectory("graft_wh").toString
    val salted = Sync.run(spark, cfgAt(skewRoot, whSalted),
      new ParquetLoader(whSalted, "s"), opts)
    assert(salted.tables.map(_.status) == Seq("success"))
    // plain sync of the same fixture: the baseline layout AND row truth
    val whPlain = Files.createTempDirectory("graft_wh").toString
    val plain = Sync.run(spark, cfgAt(skewRoot, whPlain),
      new ParquetLoader(whPlain, "s"), opts.copy(autoSalt = false))
    // salting is pure write plumbing: identical rows either way
    assert(salted.tables.head.normRows == plain.tables.head.normRows &&
      plain.tables.head.normRows == 4000L)
    // the hot date funnels through ONE writer plain, MANY salted
    assert(filesPerDate(whPlain, "2024-01-10") == 1,
      "plain clustering writes one file per date")
    assert(filesPerDate(whSalted, "2024-01-10") >= 2,
      "the hot date must spread over parallel writer tasks under --auto-salt")

    // uniform window: the decision must NOT fire — layout identical to plain
    val uniRoot = skewedFixture(2000, 0.0)
    val whUni = Files.createTempDirectory("graft_wh").toString
    val uni = Sync.run(spark, cfgAt(uniRoot, whUni),
      new ParquetLoader(whUni, "s"), opts)
    assert(uni.tables.map(_.status) == Seq("success"))
    val uniDates = new java.io.File(s"$whUni/s/cur_a_normalized")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("date="))
    assert(uniDates.nonEmpty && uniDates.forall(d =>
      d.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "uniform dates must keep the 1-file-per-date layout")
  }
}
