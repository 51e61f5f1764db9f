package graft.streaming

import graft.SparkSpec
import graft.etl.ParquetLoader
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Streaming capability tests (SURVEY §5.2.5): MemoryStream-driven,
  * bounded/behavioral assertions (not hash-declared — SURVEY §2.3 rules
  * exclude nondeterministic-by-design ops from the oracle suite). */
class StreamingSyncSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  test("watermarked tumbling window drops data later than the watermark") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_ts", "service", "cost")
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour"), col("service"))
      .agg(sum(col("cost")).as("total"))
    val q = df.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      // batch 1: two on-time events, watermark advances to 12:00-1h
      mem.addData((ts("2024-01-01T10:10:00Z"), "s3", 1.0),
        (ts("2024-01-01T12:00:00Z"), "s3", 2.0))
      q.processAllAvailable()
      // batch 2: an event 3h older than the watermark — must be dropped
      mem.addData((ts("2024-01-01T08:00:00Z"), "s3", 100.0))
      q.processAllAvailable()
      // batch 3: advance watermark far enough to close all windows
      mem.addData((ts("2024-01-02T00:00:00Z"), "s3", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("window.start").cast("string"), col("total")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(rows.get("2024-01-01 10:00:00").contains(1.0))
      assert(rows.get("2024-01-01 12:00:00").contains(2.0))
      assert(!rows.contains("2024-01-01 08:00:00"), s"late row leaked: $rows")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups repeated event ids") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val df = StreamingSync.dedupedEvents(
      mem.toDF().toDF("event_ts", "event_id", "cost"),
      "event_ts", Seq("event_id"), "1 hour")
    val q = df.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData((ts("2024-01-01T10:00:00Z"), 1L, 5.0),
        (ts("2024-01-01T10:05:00Z"), 1L, 5.0), // dup within watermark
        (ts("2024-01-01T10:10:00Z"), 2L, 7.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01T10:20:00Z"), 1L, 5.0)) // still a dup
      q.processAllAvailable()
      val n = spark.table("dedup_out").count()
      assert(n == 2, s"expected 2 unique events, got $n")
    } finally q.stop()
  }

  test("session windows split on the gap") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = StreamingSync.accountSessions(
      mem.toDF().toDF("event_ts", "account_id"),
      "event_ts", "account_id", gap = "30 minutes", watermark = "1 hour")
    val q = df.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts("2024-01-01T10:00:00Z"), "a"),
        (ts("2024-01-01T10:10:00Z"), "a"), // same session
        (ts("2024-01-01T11:30:00Z"), "a"), // > 30 min gap -> new session
        (ts("2024-01-01T10:00:00Z"), "b"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-02T00:00:00Z"), "a")) // close windows
      q.processAllAvailable()
      val sess = spark.table("sess_out")
        .filter(col("account_id") === "a").collect()
      assert(sess.length == 2, s"expected 2 sessions for a: ${sess.mkString}")
      assert(sess.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState budget monitor alerts once per account") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[CostState.CostEvent]
    val alerts = CostState.budgetAlerts(spark, mem.toDS(), budget = 10.0)
    val q = alerts.toDF().writeStream.format("memory").queryName("budget_out")
      .outputMode("append").start()
    try {
      mem.addData(CostState.CostEvent("a", 4.0), CostState.CostEvent("b", 2.0))
      q.processAllAvailable()
      assert(spark.table("budget_out").count() == 0) // nobody over budget yet
      mem.addData(CostState.CostEvent("a", 7.0)) // a crosses 10
      q.processAllAvailable()
      mem.addData(CostState.CostEvent("a", 5.0)) // still over - no second alert
      q.processAllAvailable()
      val out = spark.table("budget_out").collect()
      assert(out.length == 1)
      assert(out.head.getAs[String]("account_id") == "a")
      assert(out.head.getAs[Double]("total") == 11.0)
    } finally q.stop()
  }

  test("incrementalSync: file stream drains via AvailableNow through the batch loader") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_stream_src").toString
    val wh = Files.createTempDirectory("graft_stream_wh").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    // two "arriving" CUR files
    Seq(("2024-01-01 10:00:00", "111111111111", 1.5))
      .toDF("line_item_usage_start_date", "line_item_usage_account_id", "line_item_unblended_cost")
      .write.parquet(s"$src/f1")
    Seq(("2024-01-02 11:00:00", "222222222222", 2.5))
      .toDF("line_item_usage_start_date", "line_item_usage_account_id", "line_item_unblended_cost")
      .write.parquet(s"$src/f2")
    val loader = new ParquetLoader(wh, "s")
    loader.ensureNamespace()
    val raw = spark.readStream
      .schema(spark.read.option("recursiveFileLookup", "true").parquet(src).schema)
      .option("recursiveFileLookup", "true").parquet(src)
    val writer = StreamingSync.incrementalSync(raw, loader, "cur_a",
      ts("2024-06-01T00:00:00Z"))
    val q = StreamingSync.availableNow(writer, ckpt).start()
    q.awaitTermination(60000)
    val rawOut = loader.table(spark, "raw_cur_a")
    val norm = loader.table(spark, "cur_a_normalized")
    assert(rawOut.count() == 2)
    assert(norm.count() == 2)
    assert(norm.columns.toSeq == graft.etl.Normalize.targetColumns)
    // restart with the same checkpoint: nothing new -> no duplicates
    val q2 = StreamingSync.availableNow(
      StreamingSync.incrementalSync(raw, loader, "cur_a", ts("2024-06-01T00:00:00Z")),
      ckpt).start()
    q2.awaitTermination(60000)
    assert(loader.table(spark, "raw_cur_a").count() == 2, "checkpoint replayed files")
  }

  /** Three daily CUR drops, one file each, drained one file per
    * micro-batch: drop 2 re-issues 10 line items of drop 1 and drop 3
    * re-issues 10 of drop 2 (with their original usage times, so they
    * are duplicates, not late rows). 120 distinct ids, 20 re-issued. */
  private def reissuedDrops(): (String, Long, Long) = {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_stream_reissue").toString
    def rows(day: Int, ids: Range) = ids.map(i =>
      (s"li-$i", Timestamp.valueOf(f"2024-01-0$day%d 00:00:00").getTime + i * 60000L))
    val drops = Seq(
      rows(1, 0 until 40),
      rows(2, 40 until 80) ++ rows(1, 30 until 40),
      rows(3, 80 until 120) ++ rows(2, 70 until 80))
    val now = System.currentTimeMillis()
    drops.zipWithIndex.foreach { case (d, k) =>
      val dir = s"$src/drop$k"
      d.map { case (id, t) => (id, new Timestamp(t), "111111111111", 1.0) }
        .toDF("identity_line_item_id", "line_item_usage_start_date",
          "line_item_usage_account_id", "line_item_unblended_cost")
        .coalesce(1).write.parquet(dir)
      // the file source orders by modification time: pin drop order
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
        .foreach(_.setLastModified(now - (drops.size - k) * 10000L))
    }
    (src, 120L, 20L)
  }

  private def readDrops(src: String) = spark.readStream
    .schema(spark.read.option("recursiveFileLookup", "true").parquet(src).schema)
    .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", 1)
    .parquet(src)

  private def dedupedSync(src: String, loader: graft.etl.Loader, ckpt: String) =
    StreamingSync.availableNow(StreamingSync.incrementalSync(
      StreamingSync.dedupedEvents(readDrops(src), "line_item_usage_start_date",
        Seq("identity_line_item_id"), "1 day"),
      loader, "cur", ts("2024-06-01T00:00:00Z")), ckpt).start()

  /** A [[graft.etl.Loader]] that runs each `load` through `around`,
    * given the table name and the wrapped call. */
  private class Around(inner: graft.etl.Loader)(around: (String, () => Long) => Long)
      extends graft.etl.Loader {
    def ensureNamespace(): Unit = inner.ensureNamespace()
    def load(df: org.apache.spark.sql.DataFrame, table: String, ifExists: String,
        partitionBy: Seq[String]): Long =
      around(table, () => inner.load(df, table, ifExists, partitionBy))
    def table(s: org.apache.spark.sql.SparkSession, name: String) = inner.table(s, name)
    def runSqlScript(s: org.apache.spark.sql.SparkSession, path: String): Unit =
      inner.runSqlScript(s, path)
  }

  /** Every file under a table, relative to it, with its length. */
  private def listing(wh: String, table: String): Set[(String, Long)] = {
    val root = java.nio.file.Paths.get(wh, "s", table)
    if (!Files.exists(root)) Set.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => (root.relativize(f).toString, Files.size(f))).toSet
      finally st.close()
    }
  }

  test("incrementalSync: each micro-batch's dedup state executes once") {
    val (src, distinct, reissued) = reissuedDrops()
    val wh = Files.createTempDirectory("graft_stream_once_wh").toString
    val loader = new ParquetLoader(wh, "s")
    loader.ensureNamespace()
    val q = dedupedSync(src, loader,
      Files.createTempDirectory("graft_stream_once_ckpt").toString)
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, q.exception.toString)
    val progress = q.recentProgress
    assert(progress.count(_.numInputRows > 0) == 3,
      s"expected one batch per drop: ${progress.map(_.numInputRows).toSeq}")
    val ops = progress.flatMap(_.stateOperators)
    assert(ops.nonEmpty, "no state operator progress")
    // a second action over an unpersisted batch re-runs the store: 2×
    assert(ops.map(_.numRowsUpdated).sum == distinct)
    assert(ops.map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.longValue).getOrElse(0L)).sum == reissued)
    assert(loader.table(spark, "raw_cur").count() == distinct)
    assert(loader.table(spark, "cur_normalized").count() == distinct)
  }

  test("incrementalSync: empty batches write nothing; a failing append fails the query after the other completes") {
    val (src, distinct, _) = reissuedDrops()
    val wh = Files.createTempDirectory("graft_stream_empty_wh").toString
    val ckpt = Files.createTempDirectory("graft_stream_empty_ckpt").toString
    val inner = new ParquetLoader(wh, "s")
    inner.ensureNamespace()
    // per empty load: the table's listing before and after the call
    val emptyLoads = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Set[(String, Long)], Set[(String, Long)])]()
    val recording = new Around(inner)((t, load) => {
      val before = listing(wh, t)
      val n = load()
      if (n == 0) emptyLoads.add((t, before, listing(wh, t)))
      n
    })
    val q = dedupedSync(src, recording, ckpt)
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, q.exception.toString)
    // the drain ends on a no-data batch (the watermark evicts dedup state)
    assert(q.recentProgress.last.numInputRows == 0,
      s"expected a trailing no-data batch: ${q.recentProgress.map(_.numInputRows).toSeq}")
    val empties = emptyLoads.asScala.toSeq
    assert(empties.map(_._1).toSet == Set("raw_cur", "cur_normalized"),
      s"the no-data batch should reach both loads: ${empties.map(_._1)}")
    empties.foreach { case (t, before, after) =>
      assert(before == after, s"an empty batch changed $t: ${after -- before}") }
    val drained = Seq("raw_cur", "cur_normalized").map(t => t -> listing(wh, t)).toMap
    // restart on the same checkpoint with nothing new: no file changes
    val q2 = dedupedSync(src, recording, ckpt)
    q2.awaitTermination(120000)
    assert(q2.exception.isEmpty, q2.exception.toString)
    drained.foreach { case (t, files) => assert(listing(wh, t) == files, t) }
    assert(inner.table(spark, "raw_cur").count() == distinct)

    // a normalized append that throws: the query terminates with that
    // exception, and the raw append of the same batch still completed
    val wh2 = Files.createTempDirectory("graft_stream_fail_wh").toString
    val inner2 = new ParquetLoader(wh2, "s")
    inner2.ensureNamespace()
    val boom = new IllegalStateException("normalized append failed")
    val failing = new Around(inner2)((t, load) =>
      if (t == "cur_normalized") throw boom else load())
    val q3 = dedupedSync(src, failing,
      Files.createTempDirectory("graft_stream_fail_ckpt").toString)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q3.awaitTermination(120000))
    val causes = Iterator.iterate[Throwable](q3.exception.get)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.contains(boom), s"query failed with another error: ${causes.head}")
    assert(q3.recentProgress.isEmpty, "the first batch should fail")
    assert(inner2.table(spark, "raw_cur").count() == 40, "raw append of the failed batch")
  }

  test("exactly-once sink: replayed micro-batch cannot double-write") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_eo").toString + "/t"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // first delivery writes; a replay of the same id (crash after the
    // ledger PUT, before Spark's checkpoint commit) must be SKIPPED
    assert(ExactlyOnce.commitBatch(b0, base, 0L))
    assert(!ExactlyOnce.commitBatch(b0, base, 0L), "replay of committed id must skip")
    assert(ExactlyOnce.readCommitted(spark, base).count() == 2)
    // empty batch advances the ledger without a dir
    assert(ExactlyOnce.commitBatch(b0.filter(lit(false)), base, 1L))
    assert(ExactlyOnce.readCommitted(spark, base).count() == 2)
  }

  test("exactly-once sink: only-empty-batches drain reads as a TYPED empty table") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_eo_empty").toString + "/t"
    val schema = Seq((1L, "a")).toDF("id", "v").schema
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(ExactlyOnce.commitBatch(empty, base, 0L))
    assert(ExactlyOnce.commitBatch(empty, base, 1L))
    val got = ExactlyOnce.readCommitted(spark, base)
    // column references must resolve exactly as with data (ADVICE r10:
    // emptyDataFrame here made every downstream select fail)
    assert(got.schema == schema)
    assert(got.filter(col("v") === "a").count() == 0)
    // and a later data batch composes with the same schema
    assert(ExactlyOnce.commitBatch(Seq((2L, "b")).toDF("id", "v"), base, 2L))
    assert(ExactlyOnce.readCommitted(spark, base).select("id").as[Long]
      .collect().toSeq == Seq(2L))
  }

  test("exactly-once sink: crash mid-data-write is invisible until replay commits") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_eo2").toString + "/t"
    val b0 = Seq((1L, "a")).toDF("id", "v")
    assert(ExactlyOnce.commitBatch(b0, base, 0L))
    // simulate a crash DURING batch 1's data write: dir exists (partial),
    // ledger never advanced
    val b1 = Seq((2L, "b"), (3L, "c")).toDF("id", "v")
    val hp = new org.apache.hadoop.fs.Path(base)
    b1.limit(1).write.mode("overwrite")
      .parquet(ExactlyOnce.batchDir(hp, 1L).toString)
    assert(ExactlyOnce.readCommitted(spark, base).count() == 1,
      "uncommitted partial dir must be invisible to readers")
    // replay of batch 1 overwrites the partial dir, then commits
    assert(ExactlyOnce.commitBatch(b1, base, 1L))
    assert(ExactlyOnce.readCommitted(spark, base).count() == 3)
    assert(ExactlyOnce.readCommitted(spark, base)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("exactly-once sink: torn ledger PUT is detected and repaired by the replay") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_eo3").toString + "/t"
    val hp = new org.apache.hadoop.fs.Path(base)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b0 = Seq((1L, "a")).toDF("id", "v")
    assert(ExactlyOnce.commitBatch(b0, base, 0L))
    // batch 1's data lands, then the ledger PUT tears mid-write: a
    // prefix without the terminator (would parse as a VALID id under a
    // bare-digits format)
    val b1 = Seq((2L, "b")).toDF("id", "v")
    b1.write.mode("overwrite").parquet(ExactlyOnce.batchDir(hp, 1L).toString)
    val out = fs.create(ExactlyOnce.ledgerPath(hp), true)
    try out.write("b1".getBytes("UTF-8")) finally out.close()
    intercept[graft.etl.PointerRecord.TornRecordException] {
      ExactlyOnce.readCommitted(spark, base)
    }
    // the replayed batch repairs: rewrite own dir, re-commit own id
    assert(ExactlyOnce.commitBatch(b1, base, 1L))
    assert(ExactlyOnce.readCommitted(spark, base).count() == 2)
    assert(ExactlyOnce.lastCommitted(fs, hp).contains(1L))
  }

  test("stream tags: round-trip, lineage scoping, malformed tag fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tag").toString
    val gen = new org.apache.hadoop.fs.Path(s"$dir/gen")
    val fs = gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(gen)
    assert(ExactlyOnce.readStreamTags(fs, gen).isEmpty, "untagged reads empty")
    ExactlyOnce.writeStreamTags(fs, gen, Map("sinkA" -> 7L, "sinkB" -> 0L))
    assert(ExactlyOnce.readStreamTags(fs, gen) == Map("sinkA" -> 7L, "sinkB" -> 0L))
    // lineage keys carry paths — spaces fine, newlines refused at write
    ExactlyOnce.writeStreamTags(fs, gen, Map("/tmp/my sink/v" -> 3L))
    assert(ExactlyOnce.readStreamTags(fs, gen) == Map("/tmp/my sink/v" -> 3L))
    intercept[IllegalArgumentException](
      ExactlyOnce.writeStreamTags(fs, gen, Map("a\nb" -> 1L)))
    // a malformed tag is out-of-band interference: loud, never a silent
    // re-admit (an ignored tag would replay a batch as fresh)
    val out = fs.create(ExactlyOnce.streamTagPath(gen), true)
    try out.write("b7".getBytes("UTF-8")) finally out.close() // no lineage, no \n
    val e = intercept[RuntimeException](ExactlyOnce.readStreamTags(fs, gen))
    assert(e.getMessage.contains("truncated"), e.getMessage)
    // an existing-but-EMPTY tag file is equally suspect — silent empty
    // would replay an admitted batch as fresh
    val out2 = fs.create(ExactlyOnce.streamTagPath(gen), true)
    out2.close()
    val e2 = intercept[RuntimeException](ExactlyOnce.readStreamTags(fs, gen))
    assert(e2.getMessage.contains("empty"), e2.getMessage)
    // garbled line with terminator: still loud
    val out3 = fs.create(ExactlyOnce.streamTagPath(gen), true)
    try out3.write("x7 sinkA\n".getBytes("UTF-8")) finally out3.close()
    val e3 = intercept[RuntimeException](ExactlyOnce.readStreamTags(fs, gen))
    assert(e3.getMessage.contains("malformed"), e3.getMessage)
  }

  test("exactly-once sink: ledger prefix-tear of a multi-digit id is torn, not a smaller id") {
    val hp = new org.apache.hadoop.fs.Path("/x/t")
    assert(ExactlyOnce.record.parse("b12\n").contains(12L))
    assert(ExactlyOnce.record.parse("b0\n").contains(0L), "batch 0 is a valid first commit")
    assert(ExactlyOnce.record.parse("b1").isEmpty, "torn prefix of b12 must not read as 1")
    assert(ExactlyOnce.record.parse("").isEmpty)
    assert(ExactlyOnce.record.parse("b\n").isEmpty)
    assert(ExactlyOnce.record.parse("12\n").isEmpty)
  }

  test("exactly-once sink over graftfs:// object store: drain, restart, no duplicates") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfs.impl", classOf[graft.etl.GraftFileSystem].getName)
    val tmp = Files.createTempDirectory("graft_eo4").toString
    val src = s"$tmp/src"
    val sink = s"graftfs://$tmp/wh/costs"
    val ckpt = s"$tmp/ckpt"
    Seq(("2024-01-01 10:00:00", 1.5)).toDF("t", "cost").write.parquet(s"$src/f1")
    val schema = spark.read
      .option("recursiveFileLookup", "true").parquet(src).schema
    def drain(): Unit = {
      val raw = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
      val q = StreamingSync.availableNow(
        ExactlyOnce.parquetSink(raw, sink), ckpt).start()
      q.awaitTermination(60000)
    }
    drain()
    assert(ExactlyOnce.readCommitted(spark, sink).count() == 1)
    // restart on the same checkpoint with one new file: the old file is
    // not re-delivered, the new one lands exactly once
    Seq(("2024-01-02 11:00:00", 2.5)).toDF("t", "cost").write.parquet(s"$src/f2")
    drain()
    assert(ExactlyOnce.readCommitted(spark, sink).count() == 2)
    // and a pure replay drain (nothing new) changes nothing
    drain()
    assert(ExactlyOnce.readCommitted(spark, sink).count() == 2)
    assert(ExactlyOnce.readCommitted(spark, sink)
      .agg(sum(col("cost"))).as[Double].head() == 4.0)
  }
}
