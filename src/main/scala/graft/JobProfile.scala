package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB profile of one declared query (optimization-round measurement
  * tool, guide §1): runs `args(0)` once against SPARK_GRAFT_SF_DIR with a
  * listener that records every Spark job's wall time and call site, then
  * prints the jobs sorted by duration plus the gaps (driver-side time
  * between jobs — planning, FS metadata, ledger IO). The full-suite Bench
  * says WHICH query is slow; this says WHERE inside it the time goes.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.JobProfile e54_streaming_dedup_ingest [reps]"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: JobProfile <query> [reps]"))
    val reps = args.drop(1).headOption.flatMap(_.toIntOption).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.etl.Sessions.session()
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))

    final case class Job(id: Int, t0: Long, var t1: Long = -1L,
        site: String = "", var tasks: Int = 0)
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, Job]
    // per-stage task durations (ms) — max/median exposes skew (§2.5)
    val stageTasks = new scala.collection.mutable.LinkedHashMap[Int, scala.collection.mutable.ArrayBuffer[Long]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs(e.jobId) = Job(e.jobId, System.nanoTime(), site = site,
          tasks = e.stageInfos.map(_.numTasks).sum)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = System.nanoTime())
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageTasks.getOrElseUpdate(e.stageId,
            new scala.collection.mutable.ArrayBuffer[Long]) +=
            (e.taskInfo.finishTime - e.taskInfo.launchTime)
        }
    }

    // one untimed warmup rep (JIT/codegen), then profiled reps
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    var bestTotal = Double.MaxValue
    var bestJobs: Seq[(Job, Long)] = Nil // job + gap-before in ns
    // stage-skew table snapshot of the BEST rep (ADVICE r21: aggregating
    // task durations across reps made max-vs-median meaningless)
    var bestStages: Seq[(Int, Seq[Long])] = Nil
    for (r <- 1 to reps) {
      jobs.clear()
      jobs.synchronized(stageTasks.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      graft.ext.Checkpoints.releaseLineage(df)
      spark.catalog.clearCache()
      val snap = jobs.synchronized(jobs.values.toSeq.sortBy(_.t0))
      val gaps = snap.zip(Job(-1, t0, t0) +: snap.dropRight(1)).map {
        case (j, prev) => (j, j.t0 - math.max(prev.t1, t0))
      }
      System.err.println(f"[profile] rep $r: $total%.3f s, ${snap.size} jobs")
      if (total < bestTotal) {
        bestTotal = total; bestJobs = gaps
        bestStages = jobs.synchronized(
          stageTasks.toSeq.map { case (sid, ts) => (sid, ts.toSeq) })
      }
    }
    // jobs whose end was never observed (t1 stays -1) would poison the
    // sums with negative durations — report them, exclude from the math
    val (ended, unended) = bestJobs.partition(_._1.t1 >= 0)
    if (unended.nonEmpty)
      println(s"WARNING: ${unended.size} job(s) never ended during the rep " +
        s"(ids ${unended.map(_._1.id).mkString(",")}) — excluded from sums")
    val jobSum = ended.map(g => (g._1.t1 - g._1.t0) / 1e9).sum
    val gapSum = ended.map(_._2 / 1e9).filter(_ > 0).sum
    println(f"QUERY $name best=$bestTotal%.3f s jobs=${bestJobs.size} " +
      f"jobTime=$jobSum%.3f gapTime=$gapSum%.3f")
    ended.sortBy(g => -(g._1.t1 - g._1.t0)).take(40).foreach { case (j, _) =>
      println(f"  job ${j.id}%4d ${(j.t1 - j.t0) / 1e9}%8.3f s tasks=${j.tasks}%4d ${j.site}")
    }
    println("-- gaps over 50 ms (driver-side work before the job):")
    ended.filter(_._2 > 50e6).sortBy(-_._2).take(25).foreach { case (j, g) =>
      println(f"  before job ${j.id}%4d ${g / 1e9}%8.3f s  ${j.site}")
    }
    println("-- stages with max task over 100 ms (skew check: max vs median, best rep):")
    bestStages.map { case (sid, ts) =>
      val sorted = ts.sorted
      (sid, sorted.last, sorted(sorted.size / 2), ts.size)
    }.filter(_._2 > 100).sortBy(-_._2).take(20).foreach { case (sid, mx, med, n) =>
      println(f"  stage $sid%5d max=${mx}%5d ms med=${med}%5d ms tasks=$n%4d")
    }
    spark.stop()
  }
}
