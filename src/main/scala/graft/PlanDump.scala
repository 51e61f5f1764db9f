package graft


/** Dump `.explain("formatted")` for the named declared queries (the
  * optimization-round plan evidence: plans/r21/<query>_{before,after}.txt).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.PlanDump <outDir> <q1,q2,...>"
  * Writes one <outDir>/<query>.txt per query. Queries that drive
  * imperative lifecycles still build their final served frame, so the
  * dumped plan is the plan the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, names) = args.take(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.etl.Sessions.session()
    new java.io.File(outDir).mkdirs()
    names.split(",").foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/$name.txt"), txt)
            System.err.println(s"[plandump] wrote $outDir/$name.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
