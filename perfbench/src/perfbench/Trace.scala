package perfbench

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import graft.etl.Loader
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds (fractional) so
  * spans measured here and job intervals reported by Spark's listener
  * bus share one clock. `op` is the timed operation the span belongs to
  * (0 outside any operation). */
final case class Span(id: Long, name: String, start: Double, end: Double, parent: Long, op: Long) {
  def dur: Double = end - start
}

/** In-memory span and counter store for a traced run. Nothing is written
  * until [[writeSpans]] at exit. Counters accumulate for the whole
  * process; callers take [[snapshot]] differences around the traced
  * window. */
final class Recorder {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val peaks = new ConcurrentHashMap[String, java.lang.Double]()
  /** Operation that work started off the caller's thread belongs to
    * (stream triggers, foreachBatch). Workloads with one client run one
    * operation at a time, so this is unambiguous there. */
  val currentOp = new AtomicLong(0)
  private val threadSpan = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def add(name: String, v: Double): Unit =
    counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def peak(name: String, v: Double): Unit =
    peaks.merge(name, v, (a, b) => math.max(a, b))

  def resetPeak(name: String): Unit = peaks.remove(name)

  def snapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap ++
      peaks.asScala.map { case (k, v) => s"peak:$k" -> v.doubleValue }

  def record(name: String, start: Double, end: Double, parent: Long, op: Long): Span = {
    val s = Span(ids.incrementAndGet(), name, start, end, parent, op)
    spans.add(s)
    s
  }

  /** Time `f` as a span whose parent is the span open on this thread
    * (else the current operation). */
  def span[A](name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = threadSpan.get
    val op = currentOp.get
    threadSpan.set(id)
    val t0 = nowMs
    try f
    finally {
      threadSpan.set(parent)
      spans.add(Span(id, name, t0, nowMs, if (parent == 0L) op else parent, op))
    }
  }

  /** Time one operation: a root span whose id is the operation id,
    * visible to Spark jobs through the `perfbench.op` local property. */
  def op[A](spark: SparkSession, name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    currentOp.set(id)
    threadSpan.set(id)
    sc.setLocalProperty("perfbench.op", id.toString)
    val t0 = nowMs
    try f
    finally {
      spans.add(Span(id, name, t0, nowMs, 0L, id))
      sc.setLocalProperty("perfbench.op", null)
      threadSpan.set(0L)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def writeSpans(file: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map(s =>
      f"""{"id":${s.id},"name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"parent":${s.parent},"op":${s.op}}""")
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.write(file, lines.asJava)
    ()
  }
}

object Recorder {
  /** Union length of intervals (ms). */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of `parent`: its duration minus the union of its
    * children's intervals clipped to it. */
  def selfTime(parent: Span, children: Seq[Span]): Double =
    parent.dur - union(children.map(c => (math.max(c.start, parent.start), math.min(c.end, parent.end))))
}

/** Scheduler, executor, shuffle and cache-block counters plus one span
  * per job, from Spark's own listener bus. */
final class SchedulerRecorder(rec: Recorder) extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, (Double, Long)]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cached = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
      .map(_.toLong).getOrElse(rec.currentOp.get)
    jobStart.put(e.jobId, (e.time.toDouble, op))
    rec.add("sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, op) =>
      rec.record("job", t0, e.time.toDouble, op, op)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    rec.add("sched.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    rec.add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      rec.add("exec.run_ms", m.executorRunTime.toDouble)
      rec.add("exec.cpu_ns", m.executorCpuTime.toDouble)
      rec.add("exec.gc_ms", m.jvmGCTime.toDouble)
      rec.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      rec.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      rec.add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      rec.add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      val old = Option(blocks.put(info.blockId.name, size)).map(_.longValue).getOrElse(0L)
      if (size == 0L) blocks.remove(info.blockId.name)
      rec.peak("corpus.cached_bytes", cached.addAndGet(size - old).toDouble)
    }
  }
}

/** Catalyst phase times and scan counters of every finished query. */
final class QueryRecorder(rec: Recorder) extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (phase, summary) =>
      rec.add(s"plan.${phase}_ms", summary.durationMs.toDouble)
    }
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanLike => s: SparkPlan }
      .foreach { s =>
        def m(k: String): Double = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        rec.add("scan.files_read", m("numFiles"))
        rec.add("scan.partitions_read", m("numPartitions"))
        rec.add("scan.metadata_ms", m("metadataTime"))
        rec.add("scan.rows", m("numOutputRows"))
      }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-trigger durations and state-store metrics of streaming queries. */
final class StreamRecorder(rec: Recorder) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    rec.add("stream.triggers", 1)
    rec.add("stream.input_rows", p.numInputRows.toDouble)
    val d = p.durationMs.asScala
    Seq("triggerExecution" -> "trigger_ms", "addBatch" -> "add_batch_ms",
      "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms",
      "latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms")
      .foreach { case (k, n) => rec.add(s"stream.$n", d.get(k).map(_.doubleValue).getOrElse(0.0)) }
    p.stateOperators.foreach { s =>
      rec.add("state.commit_ms", s.commitTimeMs.toDouble)
      rec.add("state.rows_updated", s.numRowsUpdated.toDouble)
      rec.peak("state.memory_bytes", s.memoryUsedBytes.toDouble)
      rec.add("state.dup_dropped",
        Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.doubleValue).getOrElse(0.0))
    }
  }
}

/** A [[Loader]] that times every call into the wrapped one. Spans are
  * named by the table role the sync gives them. */
final class TracingLoader(inner: Loader, rec: Recorder) extends Loader {
  private def role(table: String, ifExists: String): String =
    if (table == graft.etl.SyncLog.tableName) "loader.sync_log"
    else if (ifExists == "append") "loader.append"
    else if (table.startsWith("raw_")) "loader.raw"
    else "loader.normalized"

  private def timed(table: String, ifExists: String)(f: => Long): Long = {
    val rows = rec.span(role(table, ifExists))(f)
    rec.add("loader.rows", rows.toDouble)
    rows
  }

  override def ensureNamespace(): Unit = inner.ensureNamespace()
  override def load(df: DataFrame, table: String, ifExists: String, partitionBy: Seq[String]): Long =
    timed(table, ifExists)(inner.load(df, table, ifExists, partitionBy))
  override def loadClustered(df: DataFrame, table: String, ifExists: String,
      partitionBy: Seq[String], clusterSalt: Int): Long =
    timed(table, ifExists)(inner.loadClustered(df, table, ifExists, partitionBy, clusterSalt))
  override def table(spark: SparkSession, name: String): DataFrame = inner.table(spark, name)
  override def readBack(spark: SparkSession, table: String): Option[DataFrame] = inner.readBack(spark, table)
  override def sqlRef(table: String): Option[String] = inner.sqlRef(table)
  override def runSqlScript(spark: SparkSession, path: String): Unit = inner.runSqlScript(spark, path)
  override def close(): Unit = inner.close()
}

/** Process-wide counts of raw local-filesystem calls (checksum sidecar
  * files included), shared by the FileSystem and FileContext bindings
  * below. */
object FsCounts {
  val names: Seq[String] = Seq("create", "rename", "delete", "mkdirs", "list", "status")
  private val c: Map[String, AtomicLong] = names.map(_ -> new AtomicLong).toMap
  def hit(n: String): Unit = { c(n).incrementAndGet(); () }
  def snapshot(): Map[String, Double] = c.map { case (k, v) => s"fs.$k" -> v.get.toDouble }
}

/** `RawLocalFileSystem` counting the calls that commit protocols and
  * partition discovery make; modelled on the test suite's local-backed
  * filesystem stubs. */
class CountingRawLocalFileSystem extends RawLocalFileSystem {
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounts.hit("create"); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounts.hit("create"); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { FsCounts.hit("rename"); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { FsCounts.hit("delete"); super.delete(p, recursive) }
  override def mkdirs(p: Path): Boolean = { FsCounts.hit("mkdirs"); super.mkdirs(p) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = { FsCounts.hit("mkdirs"); super.mkdirs(p, permission) }
  override def listStatus(p: Path): Array[FileStatus] = { FsCounts.hit("list"); super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus = { FsCounts.hit("status"); super.getFileStatus(p) }
}

/** `fs.file.impl` for traced runs: the stock checksummed local
  * filesystem over the counting raw one. */
class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` for traced runs: the FileContext
  * binding streaming checkpoints use, over the same counting raw
  * filesystem. */
class CountingLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new CountingRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
  })
