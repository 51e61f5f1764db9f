package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (dev iteration;
    // the driver always passes exactly two args → full run)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(',').toSet)
    // a fully-misspelled filter would otherwise run NOTHING and look
    // like instant success in dev iteration — fail loudly instead
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} " +
          s"(declared: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
    }
    // SPARK_GRAFT_MASTER=local-cluster[...] runs the same verify across
    // real executor JVMs (see Sessions.master)
    val spark = graft.etl.Sessions.session()
    new java.io.File(outDir).mkdirs()
    // A query that throws must SURFACE in the driver's gate, not vanish
    // (VERDICT r11: three queries errored before producing output, the
    // driver's correctness file simply had no row for them, and
    // "106 all green" looked healthier than the round before's 109).
    // On catch: create the query's out dir anyway with a _FAILED marker
    // (the dir exists but is unreadable as parquet → the gate reports an
    // explicit error row) and accumulate every failure into
    // <outDir>/errors.json for direct inspection.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // the write was the frame's last action here — release any
        // localCheckpoint blocks backing it (e.g. the global-rank
        // range exchange) so a 184-query session doesn't accumulate
        // dead checkpoint storage until the ContextCleaner gets there
        graft.ext.Checkpoints.releaseLineage(df)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        e.printStackTrace()
        errors(name) = s"${e.getClass.getName}: ${e.getMessage}"
        val qdir = Paths.get(s"$outDir/$name")
        try {
          Files.createDirectories(qdir)
          Files.writeString(qdir.resolve("_FAILED"),
            s"${e.getClass.getName}: ${e.getMessage}\n")
        } catch { case m: Throwable =>
          System.err.println(s"[verify] $name: marker write failed: ${m.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // version stamp (VERDICT r16 #3): the r16 e103 red was a
    // builder-mirror/driver disagreement rooted in how each side's
    // oracle stack represents DECIMAL results — stamp the Spark/JVM
    // side here (tools/oracle_check.py stamps its duckdb/pandas side)
    // so any future mirror-vs-driver divergence is comparable.
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"),
      s"""{"spark": ${q(spark.version)}, "java": ${q(sys.props.getOrElse("java.version", "?"))}, "scala": ${q(scala.util.Properties.versionNumberString)}}""")
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
