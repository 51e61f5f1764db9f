package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run:
  *
  * {{{
  * perfbench.Main --workload <sync|serve|corpus|stream> --seed N --seconds S
  *                --trace 0|1 --tmp DIR --out DIR
  * }}}
  *
  * Set-up (a fresh session plus the workload's program-side preparation)
  * is done three times and `setup_s` is their median. Untimed, checked
  * warm-up operations follow (at least two, for at least three seconds). Then the workload's clients run closed
  * loops for `--seconds`. With `--trace 1` the window has untraced and
  * traced quarters; per-layer metrics come from the traced
  * ones and the tracing overhead from comparing the two. The last stdout
  * line is the result JSON. */
object Main {
  private val setups = 3
  private val warmOps = 2
  private val warmSeconds = 3.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, tmp: Path, out: Path,
      fixture: Path)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("tmp")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath,
      Paths.get(need("fixture")).toAbsolutePath)
  }

  private val cpus = Runtime.getRuntime.availableProcessors()

  /** The program's production session settings (as its CLI builds
    * them), with every scratch location inside the run's temp dir. */
  private def session(args: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.tmp.resolve("spark-warehouse").toUri.toString)
    if (args.trace) {
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      b.config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingLocalFs].getName)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The generator's size summary, written once the inputs are complete. */
  private def awaitFixture(summary: Path): String = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(summary)) {
      require(System.nanoTime() < deadline, s"no fixture summary at $summary")
      Thread.sleep(20)
    }
    new String(Files.readAllBytes(summary), "UTF-8").trim
  }

  private def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq finally src.close()
    } catch { case _: Exception => Nil }

  /** Java processes on the host other than this one and its ancestors:
    * anything that competes for the cores being measured. */
  private def strayJvms(): Seq[String] = {
    val self = ProcessHandle.current()
    val ancestors = Iterator.iterate(Option(self))(_.flatMap(p => p.parent().map[Option[ProcessHandle]](Some(_)).orElse(None)))
      .takeWhile(_.isDefined).flatten.map(_.pid).toSet
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => !ancestors(p.pid) && p.info().command().map[Boolean](c => c.endsWith("/java") || c == "java").orElse(false))
      .map(p => s"${p.pid}:${p.info().commandLine().orElse("java").take(120)}").toSeq
  }

  /** Heap still in use after a full collection. */
  private def liveHeapMiB(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  final case class Sample(client: Int, seconds: Double, ok: Boolean)

  /** Run the workload's clients in closed loops until `seconds` have
    * passed; every operation's output is checked untimed after it. */
  private def measure(w: Workload, ctx: OpCtx, seconds: Double, counter: AtomicLong,
      minOps: Int = 0): Seq[Sample] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val threads = (0 until w.clients).map { c =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline || out.size < minOps) {
          val n = counter.incrementAndGet()
          val t0 = System.nanoTime()
          val result = scala.util.Try {
            if (ctx.traced) ctx.rec.op(ctx.spark, w.name)(w.op(ctx, c, n)) else w.op(ctx, c, n)
          }
          val dt = (System.nanoTime() - t0) / 1e9
          val ok = result.map(check => scala.util.Try(check()).getOrElse(false)).getOrElse(false)
          result.failed.foreach(e => System.err.println(s"[perfbench] ${w.name} op $n failed: $e"))
          if (!ok) System.err.println(s"[perfbench] ${w.name} op $n output check failed")
          out.add(Sample(c, dt, ok))
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** Closed-loop throughput: operations per second of client busy time,
    * summed over clients. */
  private def opsPerSecond(xs: Seq[Sample]): Double =
    xs.groupBy(_.client).values.map(c => c.size / c.map(_.seconds).sum).sum

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val host = Map[String, Any](
      "nproc" -> cpus, "master" -> s"local[$cpus]", "loadavg_start" -> loadavg(),
      "stray_jvms" -> strayJvms(), "jdk" -> System.getProperty("java.version"),
      "max_heap_mib" -> Runtime.getRuntime.maxMemory / 1048576,
      "seed" -> args.seed, "workload" -> args.workload, "seconds" -> args.seconds, "trace" -> args.trace)
    Files.createDirectories(args.tmp)
    val rec = new Recorder
    val w = Workload(args.workload, args.tmp)
    val counter = new AtomicLong(0)
    var attempted = 0L
    var failed = 0L
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sessionS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var fixture = ""

    for (i <- 0 until setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(args)
      sessionS += (System.nanoTime() - t0) / 1e9
      if (i == 0) {
        fixture = awaitFixture(args.fixture)
        w.load(args.seed)
      }
      w.prepare(OpCtx(spark, rec, traced = false))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val warm = measure(w, OpCtx(spark, rec, traced = false), warmSeconds, counter, minOps = warmOps)
    attempted += warm.size
    failed += warm.count(!_.ok)
    val startupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // A traced run splits the window into untraced, traced, traced,
    // untraced quarters, so a steady warm-up drift cancels out of the
    // tracing overhead.
    val segments = if (args.trace) Seq(false, true, true, false) else Seq(false)
    val segS = args.seconds / segments.size
    var plain = Seq.empty[Sample]
    var traced = Seq.empty[Sample]
    val sched = new SchedulerRecorder(rec)
    val queries = new QueryRecorder(rec)
    val streams = new StreamRecorder(rec)
    var totals = Map.empty[String, Double]
    var tracedSpans = Seq.empty[Span]
    if (args.trace) {
      val fsImpl = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      require(fsImpl.isInstanceOf[CountingLocalFileSystem], s"file: is served by ${fsImpl.getClass}, not the counting filesystem")
      Seq("corpus.cached_bytes", "state.memory_bytes").foreach(rec.resetPeak)
    }
    for (on <- segments) {
      if (!on) plain ++= measure(w, OpCtx(spark, rec, traced = false), segS, counter)
      else {
        spark.sparkContext.addSparkListener(sched)
        spark.listenerManager.register(queries)
        spark.streams.addListener(streams)
        PerfbenchBus.drain(spark.sparkContext)
        val before = rec.snapshot() ++ FsCounts.snapshot()
        val firstSpan = rec.all.map(_.id).foldLeft(0L)(math.max)
        traced ++= measure(w, OpCtx(spark, rec, traced = true), segS, counter)
        PerfbenchBus.drain(spark.sparkContext)
        val after = rec.snapshot() ++ FsCounts.snapshot()
        spark.sparkContext.removeSparkListener(sched)
        spark.listenerManager.unregister(queries)
        spark.streams.removeListener(streams)
        totals = (before.keySet ++ after.keySet).map { k =>
          k -> (if (k.startsWith("peak:")) after.getOrElse(k, 0.0) // a peak since the reset above
            else totals.getOrElse(k, 0.0) + after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))
        }.toMap
        tracedSpans ++= rec.all.filter(_.id > firstSpan)
      }
    }
    if (args.trace) rec.writeSpans(args.out.resolve("traces").resolve(s"${args.workload}.spans.jsonl"))

    val all = plain ++ traced
    attempted += all.size
    failed += all.count(!_.ok)
    val finalOk = scala.util.Try(w.finalCheck(spark)).recover { case e =>
      System.err.println(s"[perfbench] ${w.name} final check threw: $e"); false }.get
    if (!finalOk) { failed += 1; System.err.println(s"[perfbench] ${w.name} final output check failed") }
    val liveHeap = liveHeapMiB()

    val opS = plain.map(_.seconds)
    require(opS.nonEmpty, "no operation completed in the measured window")
    val e2e = Map[String, (Double, String)](
      "setup_s" -> (Util.median(setupS.toSeq), "s"),
      "op_p50_s" -> (Util.median(opS), "s"),
      "ops_per_s" -> (opsPerSecond(plain), "1/s"),
      "stored_bytes_per_source_byte" -> (w.storedPerSourceByte, "ratio"))
    val named = args.workload match {
      case "sync" => "sync_s"
      case "serve" => "serve_p50_s"
      case "corpus" => "corpus_s"
      case _ => "stream_drain_s"
    }
    val record = Map[String, Any](
      "host" -> (host ++ Map("loadavg_end" -> loadavg())),
      "fixture" -> Util.Raw(fixture),
      "startup_s" -> startupS, "setup_s_samples" -> setupS.toSeq, "session_start_s_samples" -> sessionS.toSeq,
      "op_s_samples" -> opS,
      named -> Map("median" -> Util.median(opS), "n" -> opS.size,
        "tail" -> Util.tail(opS).map { case (p, v) => Map("p" -> p, "value" -> v) }),
      "live_heap_mib" -> liveHeap, "failed_ops_frac" -> failed.toDouble / attempted,
      "final_check" -> finalOk) ++ w.record
    spark.stop()
    println(Util.json(Map("record" -> record)))
    val metrics =
      if (args.trace) (Layers.perOp(w.name, totals, tracedSpans, traced.size) ++ Map(
        "session.start_s" -> Util.median(sessionS.toSeq),
        "jvm.live_heap_mib" -> liveHeap,
        "trace.overhead_frac" -> (Util.median(traced.map(_.seconds)) / Util.median(plain.map(_.seconds)) - 1.0)))
        .map { case (k, v) => k -> Map("value" -> v, "unit" -> Layers.unit(k)) }
      else e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    println(Util.json(Map("correct" -> (failed == 0L), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics)))
  }
}
