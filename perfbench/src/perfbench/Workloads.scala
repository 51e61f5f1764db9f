package perfbench

import java.nio.file.Path
import java.security.MessageDigest

import graft.etl.{EngineConfig, Loader, ParquetLoader, Sync}
import graft.ext.CorpusPipeline
import graft.streaming.StreamingSync
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one timed operation needs: the session, the per-process
  * counters, and whether this operation is traced (then loaders are
  * wrapped and spans recorded). */
final case class OpCtx(spark: SparkSession, rec: Recorder, traced: Boolean) {
  def loader(warehouse: Path): Loader = {
    val l = new ParquetLoader(warehouse.toUri.toString, Workload.schema)
    if (traced) new TracingLoader(l, rec) else l
  }
  def span[A](name: String)(f: => A): A = if (traced) rec.span(name)(f) else f
}

/** One benchmark workload. [[op]] is the timed call into the program;
  * the check it returns runs untimed right after it. */
abstract class Workload(val name: String, val clients: Int) {
  /** Read the answers fixtures.py computed for the inputs under the
    * run directory. */
  def load(seed: Long): Unit
  /** Untimed program-side preparation in a fresh session. */
  def prepare(ctx: OpCtx): Unit = ()
  /** One timed operation by `client`; returns its untimed output check. */
  def op(ctx: OpCtx, client: Int, n: Long): () => Boolean
  /** Output check after the measured window. */
  def finalCheck(spark: SparkSession): Boolean = true
  /** Bytes the program stored per source byte it read (0 if none). */
  def storedPerSourceByte: Double
  /** Workload-specific entries for the run's record line. */
  def record: Map[String, Any] = Map.empty
}

object Workload {
  val schema = "cost_analytics"
  val defaultSeed = 1L

  def apply(name: String, tmp: Path): Workload = name match {
    case "sync" => new SyncWorkload(tmp)
    case "serve" => new ServeWorkload(tmp)
    case "corpus" => new CorpusWorkload(tmp)
    case "stream" => new StreamWorkload(tmp)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def bytesUnder(p: Path): Long = Util.parquetFiles(p)._2

  /** Per-service cost sums and the row count of a normalized frame. */
  def serviceSums(df: DataFrame, service: String, cost: String): (Map[String, Double], Long) = {
    val rows = df.groupBy(col(service)).agg(sum(col(cost)).as("c"), count(lit(1)).as("n")).collect()
    (rows.map(r => r.getString(0) -> r.getDouble(1)).toMap, rows.map(_.getLong(2)).sum)
  }

  def sameSums(a: Map[String, Double], b: Map[String, Double]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) => Util.close(v, b(k)) }
}

/** The CUR root shared by `sync` and `serve`, and its expected sync
  * outcome computed with plain DataFrame aggregates. */
final class CurFixture(tmp: Path) {
  val sourceRoot: Path = tmp.resolve("cur-src")
  val root: Path = sourceRoot.resolve("cur")
  var expectedRows = 0L
  var expectedSums: Map[String, Double] = Map.empty
  var windowBytes = 0L
  var cells: Seq[CurFixture.Cell] = Nil

  def load(): Unit = {
    cells = Fixtures.tsv(tmp, "cur_cells.tsv").map(r =>
      (java.time.LocalDate.parse(r(0)), r(1), r(2), r(3), r(4).toDouble, r(5).toLong))
    expectedSums = cells.groupBy(_._3).map { case (s, xs) => s -> xs.map(_._5).sum }
    expectedRows = cells.map(_._6).sum
    windowBytes = Fixtures.windowMonths.map { case (y, m) =>
      Workload.bytesUnder(root.resolve(s"year=$y").resolve(s"month=$m")) }.sum
  }

  def config(warehouse: Path): EngineConfig = EngineConfig(
    sourceRoot = sourceRoot.toUri.toString.stripSuffix("/"), curPaths = Seq("cur"),
    warehouseDir = warehouse.toUri.toString, jdbcUrl = None, jdbcUser = "", jdbcPassword = "",
    schema = Workload.schema, syncMonths = Fixtures.windowMonths.size, logLevel = "WARN")

  /** One `Sync.run` over the window into `warehouse`; checks its
    * reported row counts. */
  def sync(ctx: OpCtx, warehouse: Path): () => Boolean = {
    val r = Sync.run(ctx.spark, config(warehouse), ctx.loader(warehouse),
      Sync.Options(months = Fixtures.windowMonths.size, asOf = Fixtures.asOf))
    () => r.tables.size == 1 && r.tables.forall(t => t.status == "success" &&
      t.rawRows == expectedRows && t.normRows == expectedRows)
  }

  /** The `costs` view the last sync registered, against the fixture. */
  def viewMatches(spark: SparkSession): Boolean = {
    val (sums, n) = Workload.serviceSums(spark.table("costs"), "service", "cost")
    n == expectedRows && Workload.sameSums(sums, expectedSums)
  }
}

object CurFixture {
  /** (date, account, service, region, cost sum, rows) of the sync window. */
  type Cell = (java.time.LocalDate, String, String, String, Double, Long)
}

/** `etl.Sync.run` over three months of CUR into a fresh warehouse. */
final class SyncWorkload(tmp: Path) extends Workload("sync", 1) {
  private val cur = new CurFixture(tmp)
  private var last: Option[Path] = None
  private var stored = 0.0

  def load(seed: Long): Unit = cur.load()

  /** Plan the sync without running it: the pruned, schema-merged scan
    * and its Catalyst plan (the CLI's `--dry-run`, its printout dropped). */
  override def prepare(ctx: OpCtx): Unit =
    Console.withOut(new java.io.PrintStream(java.io.OutputStream.nullOutputStream())) {
      Sync.run(ctx.spark, cur.config(tmp.resolve("sync-dry-run")), ctx.loader(tmp.resolve("sync-dry-run")),
        Sync.Options(months = Fixtures.windowMonths.size, asOf = Fixtures.asOf, dryRun = true))
      ()
    }

  def op(ctx: OpCtx, client: Int, n: Long): () => Boolean = {
    last.foreach(Util.deleteTree)
    val wh = tmp.resolve(s"sync-wh-$n")
    last = Some(wh)
    val check = cur.sync(ctx, wh)
    () => {
      val (files, bytes) = Util.parquetFiles(wh)
      ctx.rec.add("loader.files_written", files.toDouble)
      ctx.rec.add("loader.bytes_written", bytes.toDouble)
      stored = bytes.toDouble / cur.windowBytes
      check()
    }
  }

  override def finalCheck(spark: SparkSession): Boolean = cur.viewMatches(spark)
  def storedPerSourceByte: Double = stored
}

/** One dashboard query and the rows it must return, in order. */
final case class Query(kind: String, sql: String, expected: Seq[Seq[Any]])

/** Dashboard SQL on the `costs` view from two closed-loop clients. */
final class ServeWorkload(tmp: Path) extends Workload("serve", 2) {
  import java.time.LocalDate
  private val cur = new CurFixture(tmp)
  private val wh = tmp.resolve("serve-wh")
  private var pools: IndexedSeq[IndexedSeq[Query]] = IndexedSeq.empty
  private val sent = Array.fill(clients)(0)
  private var rngs: IndexedSeq[scala.util.Random] = IndexedSeq.empty
  private var stored = 0.0
  private val latencies = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  /** Median latency per query kind over every query the run sent. */
  override def record: Map[String, Any] = Map("serve_kind_p50_s" ->
    latencies.toArray(Array.empty[(String, Double)]).toSeq.groupBy(_._1)
      .map { case (k, xs) => k -> Util.median(xs.map(_._2)) })


  def load(seed: Long): Unit = {
    cur.load()
    val r = new scala.util.Random(seed)
    pools = IndexedSeq.tabulate(5)(kind => IndexedSeq.fill(4)(draw(r, kind)))
    rngs = IndexedSeq.tabulate(clients)(c => new scala.util.Random(seed * 31 + c))
  }

  override def prepare(ctx: OpCtx): Unit = {
    Util.deleteTree(wh)
    require(cur.sync(ctx, wh)(), "serve set-up sync loaded wrong row counts")
    stored = Workload.bytesUnder(wh).toDouble / cur.windowBytes
  }

  /** Query kinds per client cycle: the one-day drill-down and D1 are the
    * cheap ones, D3 and the top-N (every date partition) the dear ones,
    * and D2 (one month) sits between. D2 comes twice, so the median
    * latency falls inside one kind's band instead of in the gap between
    * two clusters, where it would swing by the width of the gap. */
  private val cycle = IndexedSeq(3, 0, 1, 1, 4, 2)

  private val days: IndexedSeq[LocalDate] = for {
    (y, m) <- Fixtures.windowMonths.toIndexedSeq
    d <- 1 to Fixtures.daysPerMonth
  } yield LocalDate.of(y, m, d)

  private def draw(r: scala.util.Random, kind: Int): Query = {
    val c = cur.cells
    def sums[K](rows: Seq[CurFixture.Cell])(key: CurFixture.Cell => K): Map[K, (Double, Long)] =
      rows.groupBy(key).map { case (k, xs) => k -> (xs.map(_._5).sum, xs.map(_._6).sum) }
    kind match {
      case 0 =>
        val from = days(r.nextInt(days.size))
        val to = from.plusDays(1 + r.nextInt(30))
        val exp = sums(c.filter(x => !x._1.isBefore(from) && x._1.isBefore(to)))(_._3).toSeq
          .sortBy { case (s, (t, _)) => (-t, s) }.map { case (s, (t, _)) => Seq(s, t) }
        Query("d1_by_service", s"SELECT service, SUM(cost) AS total FROM costs WHERE date >= DATE '$from' " +
          s"AND date < DATE '$to' GROUP BY service ORDER BY total DESC, service", exp)
      case 1 =>
        val (y, m) = Fixtures.windowMonths(r.nextInt(Fixtures.windowMonths.size))
        val from = LocalDate.of(y, m, 1)
        val exp = sums(c.filter(x => x._1.getYear == y && x._1.getMonthValue == m))(_._2).toSeq.sortBy(_._1)
          .map { case (a, (t, n)) => Seq(a, t, n) }
        Query("d2_by_account", s"SELECT account_id, SUM(cost) AS total, COUNT(*) AS n FROM costs " +
          s"WHERE date >= DATE '$from' AND date < DATE '${from.plusMonths(1)}' GROUP BY account_id ORDER BY account_id", exp)
      case 2 =>
        val svc = Fixtures.services(r.nextInt(Fixtures.services.size))
        val exp = sums(c.filter(_._3 == svc))(_._1).toSeq.sortBy(_._1.toEpochDay)
          .map { case (d, (t, _)) => Seq(java.sql.Date.valueOf(d), t) }
        Query("d3_daily_trend", s"SELECT date, SUM(cost) AS total FROM costs WHERE service = '$svc' " +
          "GROUP BY date ORDER BY date", exp)
      case 3 =>
        val d = days(r.nextInt(days.size))
        val exp = sums(c.filter(_._1 == d))(x => (x._3, x._4)).toSeq.sortBy(_._1)
          .map { case ((s, g), (t, n)) => Seq(s, g, t, n) }
        Query("drill_service_region", s"SELECT service, region, SUM(cost) AS total, COUNT(*) AS n FROM costs " +
          s"WHERE date = DATE '$d' GROUP BY service, region ORDER BY service, region", exp)
      case _ =>
        val acct = (Fixtures.registered :+ Fixtures.regionRuled)(r.nextInt(Fixtures.registered.size + 1))
        val exp = sums(c.filter(_._2 == acct))(x => (x._3, x._4)).toSeq
          .sortBy { case ((s, g), (t, _)) => (-t, s, g) }.take(5)
          .map { case ((s, g), (t, _)) => Seq(s, g, t) }
        Query("topn_account", s"SELECT service, region, SUM(cost) AS total FROM costs WHERE account_id = '$acct' " +
          "GROUP BY service, region ORDER BY total DESC, service, region LIMIT 5", exp)
    }
  }

  private def matches(q: Query, got: Array[Row]): Boolean =
    got.length == q.expected.size && got.zip(q.expected).forall { case (row, exp) =>
      exp.indices.forall { i => (row.get(i), exp(i)) match {
        case (a: Double, b: Double) => Util.close(a, b)
        case (a, b) => a == b
      } }
    }

  /** Each client cycles through [[cycle]] and alternates a repeated draw
    * (from the pool) with a fresh one, so every run sends the same mix. */
  def op(ctx: OpCtx, client: Int, n: Long): () => Boolean = {
    val r = rngs(client)
    val i = sent(client)
    sent(client) += 1
    val kind = cycle((i + client * cycle.size / clients) % cycle.size)
    val q = if (i % 2 == 0) pools(kind)(r.nextInt(pools(kind).size)) else draw(r, kind)
    val t0 = System.nanoTime()
    val df = ctx.span("serve.sql")(ctx.spark.sql(q.sql))
    val got = ctx.span("serve.collect")(df.collect())
    latencies.add(q.kind -> (System.nanoTime() - t0) / 1e9)
    ctx.rec.add("serve.result_rows", got.length.toDouble)
    () => matches(q, got)
  }

  def storedPerSourceByte: Double = stored
}

/** `CorpusPipeline.prepareAndWrite` over documents with near-duplicates. */
final class CorpusWorkload(tmp: Path) extends Workload("corpus", 1) {
  private val docsDir = tmp.resolve("docs")
  private var seed = 0L
  private var inputIds: Set[Long] = Set.empty
  private var inputBytes = 0L
  private var last: Option[Path] = None
  private var lastRows = -1L
  private var stored = 0.0
  val budget = 512
  /** `CorpusPipeline.prepare`'s chunk size. Packing lets the chunk that
    * crosses a sequence boundary stay in the earlier sequence, so a
    * sequence holds fewer than `budget + chunkTokens` tokens. */
  val chunkTokens = 64

  /** SHA-256 of the written sequences of the default seed at the
    * parent commit; other seeds are checked by invariants only. */
  val pinnedDigest = "bef978b622303848cc6caf17022dffca649d0007f855b71870c5ada9b98a5cbf"

  /** Open the input documents (schema discovery). */
  override def prepare(ctx: OpCtx): Unit = {
    ctx.spark.read.parquet(docsDir.toUri.toString).schema
    ()
  }

  def load(seed: Long): Unit = {
    this.seed = seed
    inputIds = Fixtures.tsv(tmp, "corpus_ids.tsv").map(_(0).toLong).toSet
    inputBytes = Workload.bytesUnder(docsDir)
  }

  def op(ctx: OpCtx, client: Int, n: Long): () => Boolean = {
    last.foreach(Util.deleteTree)
    val out = tmp.resolve(s"corpus-out-$n")
    last = Some(out)
    val docs = ctx.spark.read.parquet(docsDir.toUri.toString)
    val res = CorpusPipeline.prepareAndWrite(docs, out.toUri.toString, shards = Some(8), packBudget = Some(budget))
    () => {
      val (files, bytes) = Util.parquetFiles(out)
      ctx.rec.add("corpus.rows_out", res.chunksWritten.toDouble)
      ctx.rec.add("corpus.output_files", files.toDouble)
      stored = bytes.toDouble / inputBytes
      val same = lastRows < 0 || lastRows == res.chunksWritten
      lastRows = res.chunksWritten
      res.chunksWritten > 0 && same
    }
  }

  /** Digest of the last output, read with plain DataFrame calls. */
  def digest(spark: SparkSession, out: Path): (String, Array[Row]) = {
    val rows = spark.read.parquet(out.toUri.toString)
      .select(col("seq_key"), col("shard"), col("n_chunks"), col("seq_tokens"), col("first_doc"),
        col("last_doc"), col("text"))
      .orderBy(col("seq_key")).collect()
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    (md.digest().map("%02x".format(_)).mkString, rows)
  }

  override def finalCheck(spark: SparkSession): Boolean = last.exists { out =>
    val (d, rows) = digest(spark, out)
    System.err.println(s"[perfbench] corpus digest seed=$seed $d")
    val checks = Seq(
      "rows > 0" -> rows.nonEmpty,
      "rows == reported" -> (rows.length == lastRows),
      s"seq_tokens < $budget + $chunkTokens" -> rows.forall(_.getLong(3) < budget + chunkTokens),
      "doc ids from input" -> rows.forall(r => inputIds(r.getLong(4)) && inputIds(r.getLong(5))),
      "digest of the default seed" -> (seed != Workload.defaultSeed || d == pinnedDigest))
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] corpus check failed: ${c._1}"))
    checks.forall(_._2)
  }

  def storedPerSourceByte: Double = stored
}

/** `StreamingSync` drain of daily CUR drops with re-issued line items. */
final class StreamWorkload(tmp: Path) extends Workload("stream", 1) {
  private val drops = tmp.resolve("drops")
  private var expectedRows = 0L
  private var expectedSums: Map[String, Double] = Map.empty
  private var dropBytes = 0L
  private var last: Option[(Path, Path)] = None
  private var stored = 0.0
  private val syncTs = java.sql.Timestamp.valueOf("2024-07-01 00:00:00")

  /** The stream source's schema probe and state-backend set-up. */
  override def prepare(ctx: OpCtx): Unit = {
    StreamingSync.readCurStream(ctx.spark, drops.toUri.toString)
    ()
  }

  def load(seed: Long): Unit = {
    val rows = Fixtures.tsv(tmp, "stream_sums.tsv")
    expectedRows = rows.find(_(0) == "__rows__").get(1).toLong
    expectedSums = rows.filter(_(0) != "__rows__").map(r => r(0) -> r(1).toDouble).toMap
    dropBytes = Workload.bytesUnder(drops)
  }

  private def table(wh: Path, t: String): Path = wh.resolve(Workload.schema).resolve(t)

  def op(ctx: OpCtx, client: Int, n: Long): () => Boolean = {
    last.foreach { case (a, b) => Util.deleteTree(a); Util.deleteTree(b) }
    val wh = tmp.resolve(s"stream-wh-$n")
    val ck = tmp.resolve(s"stream-ck-$n")
    last = Some((wh, ck))
    val raw = StreamingSync.readCurStream(ctx.spark, drops.toUri.toString)
    val deduped = StreamingSync.dedupedEvents(raw, "line_item_usage_start_date",
      Seq("identity_line_item_id"), "1 day")
    val q = StreamingSync.availableNow(
      StreamingSync.incrementalSync(deduped, ctx.loader(wh), "cur", syncTs), ck.toUri.toString).start()
    q.awaitTermination()
    () => {
      val (files, bytes) = Util.parquetFiles(wh)
      ctx.rec.add("loader.files_written", files.toDouble)
      ctx.rec.add("loader.bytes_written", bytes.toDouble)
      stored = bytes.toDouble / dropBytes
      val spark = ctx.spark
      q.exception.isEmpty &&
        spark.read.parquet(table(wh, "raw_cur").toUri.toString).count() == expectedRows &&
        spark.read.parquet(table(wh, "cur_normalized").toUri.toString).count() == expectedRows
    }
  }

  override def finalCheck(spark: SparkSession): Boolean = last.exists { case (wh, _) =>
    val (sums, n) = Workload.serviceSums(spark.read.parquet(table(wh, "cur_normalized").toUri.toString),
      "service", "cost")
    n == expectedRows && Workload.sameSums(sums, expectedSums)
  }

  def storedPerSourceByte: Double = stored
}
