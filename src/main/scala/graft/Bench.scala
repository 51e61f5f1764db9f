package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main: times every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver (BENCH_r{N}.json).
  *
  * Timing rules (VERDICT r1 item 7):
  *  - results go to the `noop` sink, so sorts/projections are executed,
  *    not optimized away as they would be under `.count()`;
  *  - failures are reported as failures (negative time + "failed" list),
  *    never silently folded into the total;
  *  - the session is [[etl.Sessions]]'s, the one Verify runs, so bench
  *    and correctness see identical conf.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // host state AT START (VERDICT r9 item 4): idleness matters when the
    // timings begin, not at report time. A loaded host or a foreign JVM
    // alive NOW is what poisons the numbers — flag the whole record.
    // Pre-flight WAIT-AND-RETRY (VERDICT r15 item 3): the r14 and r15
    // driver records both arrived `contaminated: true` because the
    // driver benches right after other work while loadavg is still
    // draining. Rather than record a poisoned run, wait (bounded —
    // default 5 min, SPARK_GRAFT_PREFLIGHT_WAIT_S overrides; 0 disables)
    // for the host to go idle, re-checking every 15 s. If the budget
    // runs out busy, run anyway and flag the record as before.
    var loadAtStart = loadavg()
    var strayAtStart = strayJvms()
    def busy: Boolean = loadAtStart.headOption.exists(_ > 1.0) || strayAtStart.nonEmpty
    val waitBudgetS = sys.env.get("SPARK_GRAFT_PREFLIGHT_WAIT_S")
      .flatMap(_.toIntOption).getOrElse(300).max(0)
    val waitT0 = System.nanoTime()
    var waitedS = 0L
    while (busy && waitedS < waitBudgetS) {
      System.err.println(f"[bench] pre-flight: host busy (load=${loadAtStart.headOption.getOrElse(-1.0)}%.2f, " +
        s"stray=${strayAtStart.size}) — waiting 15s (${waitedS}s/${waitBudgetS}s used)")
      Thread.sleep(15000)
      waitedS = (System.nanoTime() - waitT0) / 1000000000L
      loadAtStart = loadavg()
      strayAtStart = strayJvms()
    }
    val contaminated = busy
    val spark = graft.etl.Sessions.session()
    // environment fingerprint for cross-run comparability (heap pressure /
    // CPU contention are the usual causes of bench divergence)
    System.err.println(s"[bench] maxHeap=${Runtime.getRuntime.maxMemory() / (1 << 20)}MiB " +
      s"procs=${Runtime.getRuntime.availableProcessors()} cpus=${graft.etl.Sessions.cpus}")
    // one warmup action so JVM/codegen startup isn't billed to the first query
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    // optional prefix filter for local iteration, e.g. SPARK_GRAFT_ONLY=e02,e05
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    // median-of-N per query (VERDICT r3 item 6): single-shot timings on a
    // shared host carry ~1.5-2x load noise, which wastes the perf budget;
    // the median of 3 is robust to one slow rep. Reps run per-query
    // back-to-back; a failure on any rep marks the query failed.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map { v =>
      v.toIntOption.getOrElse {
        System.err.println(s"[bench] SPARK_GRAFT_REPS='$v' is not an int; using 3")
        3
      }
    }.getOrElse(3).max(1)
    val repsExplicit = sys.env.contains("SPARK_GRAFT_REPS")
    // per-query rep floor (VERDICT r16 #6): queries with a DOCUMENTED
    // slow-rep mode that sit above the sub-second auto-extension get
    // extra samples so one anomalous rep can't dominate their spread
    // (c53: one ORC rep read 3× its band at the r16 close; min normal)
    val repFloor = Map("c53_orc_roundtrip" -> 5)
    def runRep(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      var frame: org.apache.spark.sql.DataFrame = null
      val ok =
        try {
          frame = fn(spark, sfDir)
          frame.write.format("noop").mode("overwrite").save(); true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // release localCheckpoint blocks (outside the timed region,
      // like clearCache below — the cacheManager can't see RDD-level
      // persists): back-to-back reps of checkpoint-backed queries
      // (e115's global rank) otherwise stack dead checkpoints until
      // the ContextCleaner runs — the documented ~50 s rep artifact
      if (frame != null) graft.ext.Checkpoints.releaseLineage(frame)
      // queries that persist internally (e15's connected components) would
      // otherwise serve reps 2..N from rep 1's cache — Spark's cache lookup
      // is by sameResult, so an identical re-built plan hits the entry and
      // the median measures the warm path (VERDICT r5 item 1). Clearing
      // between reps (outside the timed region) keeps every rep cold and
      // leaves the suite's cacheManager empty at exit.
      spark.catalog.clearCache()
      (elapsed, ok)
    }
    def mkResult(name: String, times: Seq[(Double, Boolean)]): QueryResult = {
      val ok = times.forall(_._2)
      val sorted = times.map(_._1).sorted
      QueryResult(name, sorted.head, sorted(sorted.size / 2), sorted.last, ok,
        times.size)
    }
    val sweepSamples: Seq[(String, Seq[(Double, Boolean)])] = selected.map { case (name, fn) =>
      var times = {
        val baseReps = if (repsExplicit) reps else reps.max(repFloor.getOrElse(name, reps))
        (1 to baseReps).map(_ => runRep(name, fn))
      }
      // sub-second queries get 5 reps (VERDICT r7 item 8): one JVM pause
      // dominates a 3-rep spread exactly where queries are shortest (c25
      // tripped the suspect flag two rounds running on a reproducible
      // pause, adjudicated benign each time). The extra cost is bounded —
      // only sub-second medians qualify. An explicit SPARK_GRAFT_REPS
      // wins (local iteration wants exactly what it asked for).
      val med0 = times.map(_._1).sorted.apply(times.size / 2)
      if (!repsExplicit && times.forall(_._2) && med0 < 1.0 && times.size < 5)
        times = times ++ (1 to (5 - times.size)).map(_ => runRep(name, fn))
      (name, times)
    }
    // CROSS-RUN drift baseline (VERDICT r16 #4): best historical per-query
    // MIN from CLEAN records at the SAME scale dir in BENCH_HISTORY.jsonl.
    // Computed BEFORE the re-run pass below, which consumes it.
    val histBest: Map[String, Double] = {
      val f = java.nio.file.Paths.get("BENCH_HISTORY.jsonl")
      if (!java.nio.file.Files.exists(f)) Map.empty
      else {
        val sfRe = ("\"sf\":\"" + java.util.regex.Pattern.quote(sfDir) + "\"").r
        val qmRe = "\"queries_min\":\\{([^}]*)\\}".r
        val entRe = "\"([^\"]+)\":(-?[0-9.]+)".r
        scala.io.Source.fromFile(f.toFile)(scala.io.Codec.UTF8).getLines()
          .filter(l => sfRe.findFirstIn(l).isDefined && l.contains("\"contaminated\":false"))
          .flatMap(l => qmRe.findFirstMatchIn(l).toSeq.flatMap(m =>
            entRe.findAllMatchIn(m.group(1)).map(e => e.group(1) -> e.group(2).toDouble)))
          .filter(_._2 > 0)
          .foldLeft(Map.empty[String, Double]) { case (acc, (n, v)) =>
            acc.updated(n, acc.get(n).fold(v)(math.min(_, v)))
          }
      }
    }
    // TARGETED RE-RUN of flagged queries (VERDICT r19 #1a): three rounds
    // running, the submitted record's headline was set by one query
    // family reading 3-4x its same-day band — per-query minutes of host
    // jitter hitting the hundreds-of-tiny-per-trigger-tasks streaming
    // drains, adjudicated "environmental" each time by hand. Automate
    // that adjudication INSIDE the run: after the sweep, any query whose
    // sweep min reads >3x (+1s floor) its best clean historical min at
    // this scale — or whose within-run spread exceeds 3x at a >=1s
    // median — is re-run (same session, bounded count), and ALL samples
    // merge into its stats. A genuinely-slow query re-reads slow and
    // stays flagged; a jitter victim recovers its real number, and one
    // bad window can no longer set the family's headline. The re-run
    // samples are recorded separately ("rerun") so the record shows the
    // adjudication evidence. SPARK_GRAFT_RERUN_REPS=0 disables.
    val sweepResults = sweepSamples.map { case (n, t) => mkResult(n, t) }
    val rerunReps = sys.env.get("SPARK_GRAFT_RERUN_REPS")
      .flatMap(_.toIntOption).getOrElse(3).max(0)
    def isDrift(r: QueryResult): Boolean =
      r.ok && histBest.get(r.name).exists(b =>
        b > 0 && r.min > 3.0 * b && r.min - b > 1.0)
    def isSpreadSuspect(r: QueryResult): Boolean =
      r.ok && r.min > 0 && r.max / r.min > 3.0
    val toRerun =
      if (rerunReps == 0) Seq.empty
      else sweepResults
        .filter(r => isDrift(r) || (isSpreadSuspect(r) && r.median >= 1.0))
        .sortBy(-_.median).take(12).map(_.name) // bounded: worst offenders first
    val byName = selected.toMap
    val rerunSamples: Map[String, Seq[(Double, Boolean)]] = toRerun.map { n =>
      System.err.println(s"[bench] targeted re-run ($rerunReps reps): $n")
      n -> (1 to rerunReps).map(_ => runRep(n, byName(n))).toSeq
    }.toMap
    val results = sweepSamples.map { case (n, t) =>
      mkResult(n, t ++ rerunSamples.getOrElse(n, Nil))
    }
    val rerunJson = rerunSamples.toSeq.sortBy(_._1).map { case (n, t) =>
      "\"" + n + "\":[" + t.map(s => f"${s._1}%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val qs = results.map(r => "\"" + r.name + "\":" + f"${r.signedMedian}%.3f")
      .mkString("{", ",", "}")
    // full rep spread per query (VERDICT r6 item 1): a contaminated rep is
    // invisible in a bare median — recording [min, median, max] makes the
    // record self-diagnosing. min-of-N is robust to transient co-located
    // load (cold-rep clearing already keeps min honest), so it rides along
    // as the load-insensitive reading.
    val spread = results.map(r =>
      "\"" + r.name + "\":[" + f"${r.min}%.3f" + "," + f"${r.median}%.3f" + "," + f"${r.max}%.3f" + "]")
      .mkString("{", ",", "}")
    val qsMin = results.map(r => "\"" + r.name + "\":" + f"${r.signedMin}%.3f")
      .mkString("{", ",", "}")
    // queries whose rep spread exceeds 3x: the signature of host
    // contamination mid-suite (BENCH_r06 recorded e24 at 15.26s where the
    // verified idle number was 0.44s — a 29x outlier a spread would have
    // flagged on the spot)
    // within-run spread flag, computed over the MERGED samples: still a
    // useful diagnostic (the jittery sweep samples are retained in the
    // spread), even when the re-run recovered the min/median
    val suspect = results
      .filter(isSpreadSuspect)
      .map("\"" + _.name + "\"").mkString("[", ",", "]")
    // cross-run drift flag over the MERGED samples: a query whose
    // targeted re-run came back inside the historical band clears
    // itself (its merged min recovered); one that re-read slow on all
    // sweep+rerun samples stays flagged — that is a real regression,
    // not host state. Flag >3× best clean min with a +1 s floor so
    // sub-second noise can't trip it (VERDICT r16 #4).
    val driftSuspect = results
      .filter(isDrift)
      .map("\"" + _.name + "\"").mkString("[", ",", "]")
    val failed = results.filterNot(_.ok).map("\"" + _.name + "\"").mkString("[", ",", "]")
    // actual per-query sample counts (ADVICE r8): the sub-second 5-rep
    // extension means the configured `reps` understates how many samples
    // produced a min/median/max — record what actually ran
    val repsUsed = results.map(r => "\"" + r.name + "\":" + r.reps)
      .mkString("{", ",", "}")
    val total = results.filter(_.ok).map(_.median).sum
    val totalMin = results.filter(_.ok).map(_.min).sum
    val (fixtureSec, syncSec) = syncMirror(spark, sfDir)
    // driver-memory discipline (VERDICT r7 item 3, BASELINE.md
    // `peak_executor_mem`): peak heap across the whole suite, from the
    // JVM's heap-pool high-water marks. local[NN] runs driver and
    // executors in ONE JVM, so this bounds BOTH driver materialization
    // and executor working set; the suite passing under
    // SPARK_DRIVER_MEM=2g is the no-driver-side-materialization proof.
    val peakHeapMib = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / (1L << 20)
    }
    val maxHeapMib = Runtime.getRuntime.maxMemory() / (1L << 20)
    // record layout (VERDICT r9 item 4 + ADVICE r11): SCALARS FIRST and
    // the same headline scalars REPEATED LAST (`tail_scalars`) — the
    // driver's capture has clipped the line at BOTH ends across rounds
    // (r9 lost the tail maps, r11's tail window lost the leading
    // scalars), so the headline must survive whichever end the window
    // keeps. The untruncated record ALSO goes to BENCH_LAST.json at the
    // repo root (overwritten per run), so per-query timings survive any
    // stdout capture at all — prefer ingesting that file.
    val fmtLoad = (l: Seq[Double]) => l.map(v => f"$v%.2f").mkString("[", ",", "]")
    val headline =
      s""""value":$total,"value_min":${f"$totalMin%.3f"},""" +
        s""""n_ok":${results.count(_.ok)},"n_queries":${results.size},""" +
        s""""sync_e2e_s":${f"$syncSec%.3f"},"peak_heap_mib":$peakHeapMib,""" +
        s""""contaminated":$contaminated"""
    val record =
      s"""{"metric":"conformance_total_s","unit":"sec",$headline,""" +
        s""""reps":$reps,"preflight_wait_s":$waitedS,"sync_fixture_s":${f"$fixtureSec%.3f"},""" +
        s""""max_heap_mib":$maxHeapMib,"loadavg_start":${fmtLoad(loadAtStart)},""" +
        s""""loadavg":${fmtLoad(loadavg())},""" +
        s""""stray_jvms":${strayAtStart.map("\"" + _.replace("\"", "'") + "\"").mkString("[", ",", "]")},""" +
        s""""sf":"$sfDir","suspect":$suspect,"drift_suspect":$driftSuspect,"failed":$failed,""" +
        s""""rerun":$rerunJson,""" +
        s""""queries":$qs,"queries_min":$qsMin,"spread":$spread,"reps_used":$repsUsed,""" +
        s""""tail_scalars":{$headline}}"""
    println(record)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
        (record + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_LAST.json write failed: ${e.getMessage}")
    }
    // durable history (VERDICT r12 #2/#4): BENCH_LAST.json is overwritten
    // by EVERY run (sf0.001 smokes included), which has cost three rounds
    // of driver records. Appending each record here means any run —
    // driver, judge, or builder — self-preserves without anyone having to
    // copy a file at exactly the right moment.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
        (record + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_HISTORY.jsonl append failed: ${e.getMessage}")
    }
    spark.stop()
    // Driver-parseable FINAL line (VERDICT r13 item 7, four rounds of
    // `parsed: null`): the driver keeps only the last ~2000 chars of
    // stdout, and the full record above is ~8 kB — its head (and with it
    // the opening '{') falls outside the window, so no tail line ever
    // parses as JSON. Emit a compact summary as the very LAST stdout
    // line, after spark.stop() so no shutdown logging can follow it:
    // headline scalars + the top-15 most expensive queries (bounded —
    // 15 × ~30 chars keeps the whole line + sbt's trailing "[success]"
    // banner inside the window). The untruncated per-query record lives
    // in BENCH_LAST.json / BENCH_HISTORY.jsonl.
    val topQ = results.filter(_.ok).sortBy(-_.median).take(15)
      .map(r => "\"" + r.name + "\":" + f"${r.median}%.3f").mkString("{", ",", "}")
    val summary =
      s"""{"metric":"conformance_total_s","unit":"sec",$headline,""" +
        s""""sf":"$sfDir","queries_top15":$topQ,"queries_full":"BENCH_LAST.json"}"""
    // file-based summary (VERDICT r14 item 1): the compact record as a
    // FILE, so the driver/judge can ingest it without scraping stdout
    // at all — five rounds of `parsed: null` came from sbt's output
    // framing around the printed line (see build.sbt, which also fixes
    // the stdout path via StdoutOutput + showSuccess := false)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SUMMARY.json"),
        (summary + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_SUMMARY.json write failed: ${e.getMessage}")
    }
    println(summary)
  }

  private case class QueryResult(name: String, min: Double, median: Double,
                                 max: Double, ok: Boolean, reps: Int) {
    def signedMedian: Double = if (ok) median else -median
    def signedMin: Double = if (ok) min else -min
  }

  /** Host load average (1/5/15 min), empty on any read failure. Captured
    * at START for the contamination verdict and again at report time for
    * the record (VERDICT r6 item 1 / r9 item 4): a stray JVM or a loaded
    * host is the known cause of contaminated records (r5: orphaned sbt
    * JVM; r6: 29x tail divergence), and putting the evidence in the
    * record itself makes a bad run diagnosable after the fact. */
  private def loadavg(): Seq[Double] =
    try {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try f.mkString.trim.split("\\s+").take(3).toSeq.flatMap(_.toDoubleOption)
      finally f.close()
    } catch { case _: Throwable => Seq.empty }

  /** Java processes that are NOT part of this bench's own process tree
    * (VERDICT r9 item 4: the record always listed the bench's own sbt
    * launcher — its parent — which made every record look dirty). The
    * exclusion set is the ancestor chain (the sbt launcher that forked
    * us, and whatever shell forked it) plus our descendants; whatever
    * java remains is genuinely foreign and flags the run. */
  private def strayJvms(): Seq[String] =
    try {
      import scala.jdk.CollectionConverters._
      val self = ProcessHandle.current()
      val ownTree = scala.collection.mutable.Set(self.pid())
      var p = self.parent()
      while (p.isPresent) { ownTree += p.get.pid(); p = p.get.parent() }
      self.descendants().iterator().asScala.foreach(d => ownTree += d.pid())
      ProcessHandle.allProcesses().iterator().asScala
        .filter(p => !ownTree.contains(p.pid()))
        .filter(_.info().command().map[Boolean](c => c.endsWith("/java") || c == "java")
          .orElse(false))
        .map { p =>
          // first meaningful classpath-free token of the command line, so
          // the record says WHAT was running (sbt? a test runner?), capped
          // to keep the JSON line small
          val hint = p.info().arguments().map[String] { a =>
            a.filterNot(s => s.startsWith("-") || s.contains("/jars/"))
              .headOption.getOrElse("")
          }.orElse("").take(80)
          p.pid().toString + ":" + hint
        }
        .take(16).toSeq
    } catch { case _: Throwable => Seq.empty }

  /** End-to-end sync mirror (scan → filter → normalize → write → costs
    * view), timed on a partitioned CUR-shaped copy of the events table
    * (the BASELINE.md `sync_e2e_s` metric). The fixture build is NOT part
    * of the sync — a real sync reads source files that already exist —
    * so it is timed separately (`sync_fixture_s`) and excluded from
    * `sync_e2e_s`. Returns (fixtureSec, syncSec); syncSec negative on
    * failure. */
  private def syncMirror(spark: SparkSession, sfDir: String): (Double, Double) = {
    val tf = System.nanoTime()
    val root = java.nio.file.Files.createTempDirectory("graft_bench_cur").toString
    val wh = java.nio.file.Files.createTempDirectory("graft_bench_wh").toString
    // set once the fixture write completes, so a SYNC-phase failure still
    // reports the honestly-measured fixture time (not fixture+sync)
    var fixtureDone = -1.0
    try {
      val ids = etl.Accounts.registry.map(_.id)
      Tables.events(spark, sfDir).select(
        col("ts").as("line_item_usage_start_date"),
        element_at(typedlit(ids), (pmod(col("user_id"), lit(ids.size)) + 1).cast("int"))
          .as("line_item_usage_account_id"),
        col("event_type").as("product_servicename"),
        when(pmod(col("user_id"), lit(3)) === 0, "us-east-1")
          .when(pmod(col("user_id"), lit(3)) === 1, "eu-west-2")
          .otherwise("ap-southeast-2").as("product_region"),
        col("value").as("line_item_unblended_cost"),
        lit("USD").as("line_item_currency_code"),
        year(col("ts")).as("year"), month(col("ts")).as("month"))
        // cluster by the partition keys: one file per month, not one per
        // (shuffle partition × month) — same discipline as the loader
        .repartition(col("year"), col("month"))
        .write.partitionBy("year", "month").parquet(s"$root/cur-a")
      val fixtureSec = (System.nanoTime() - tf) / 1e9
      fixtureDone = fixtureSec
      val cfg = etl.EngineConfig(
        sourceRoot = s"file://$root", curPaths = Seq("cur-a"), warehouseDir = wh,
        jdbcUrl = None, jdbcUser = "", jdbcPassword = "", schema = "bench",
        syncMonths = 1, logLevel = "WARN")
      val t0 = System.nanoTime()
      val res = etl.Sync.run(spark, cfg, new etl.ParquetLoader(wh, "bench"),
        etl.Sync.Options(months = 1, asOf = java.time.LocalDate.parse("2024-01-15")))
      require(res.tables.forall(_.status == "success"), "sync mirror failed")
      (fixtureSec, (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] sync mirror FAILED: ${e.getMessage}")
        val fallback =
          if (fixtureDone >= 0) fixtureDone else -(System.nanoTime() - tf) / 1e9
        (fallback, -1.0)
    }
  }
}
