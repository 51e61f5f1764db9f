package graft

import graft.etl._
import org.apache.spark.sql.SparkSession
import java.time.LocalDate

/** CLI — mirror of the reference's typer app (reference
  * src/main.py:37-210): `sync` with the same four flags, plus
  * `list-accounts`, `test-connection`, `test-s3` (here: source-root
  * probe — same command name, storage-agnostic).
  */
object Main {

  private def usage(): Nothing = {
    System.err.println(
      """usage: graft.Main <command> [options]
        |
        |commands:
        |  sync [--months N] [--raw-only] [--dry-run] [--all-accounts] [--as-of YYYY-MM-DD] [--no-file-audit] [--incremental] [--auto-salt]
        |      (--auto-salt: sketch the date distribution per table and
        |       salt the normalized write clustering when one date owns
        |       the window — parallel writers instead of one straggler)
        |  compact <table> [--target-mb N]     (parquet warehouse only)
        |  compact-index <dedup|ann> <dir> [--vacuum]
        |      (fold append generations in place — atomic ledger promote;
        |       --vacuum reclaims the subsumed dirs afterwards)
        |  index-history <dedup|ann> <dir>
        |      (committed generations: id, compaction?, stream watermarks
        |       — the snapshot catalog for asOfGen time travel)
        |  query <sql> [--max-rows N]
        |  explain <declared-query> [--sf-dir DIR]
        |      (formatted physical plan of a declared query without
        |       running its final job — operators with driver-side
        |       fronts (index builds, CC rounds, min/max scans) still
        |       execute those while the frame is constructed;
        |       DIR defaults to $SPARK_GRAFT_SF_DIR)
        |  lineage <declared-query|catalog-table-or-view> [--sf-dir DIR]
        |      (column-level lineage of the query's output: which source
        |       columns feed each column's VALUES, plus the filter/join
        |       control columns; plan analysis only, nothing executes.
        |       A name that isn't a declared query resolves against the
        |       session catalog — e.g. `lineage costs` with METASTORE_DIR)
        |  corpus-prep <docs.parquet> <out-dir> [--shards N] [--pack-budget TOKENS] [--span-trim COV] [--surprisal-gate MICRO] [--unicode FORM]
        |      (filter [-> drop docs above MICRO mean unigram surprisal]
        |       [-> drop docs with >= COV duplicate-span coverage]
        |       -> dedup -> chunk [-> pack into fixed-budget sequences] -> parquet)
        |  retention <table> --before YYYY-MM-DD [--dry-run]
        |      (drop date=/year=month= partitions whose period ends
        |       before the cutoff; idempotent, unknown layouts skipped)
        |  forget <table> --subjects <keys.parquet> --key COL --partition COLS
        |      (right-to-be-forgotten: purge the subject keys from a
        |       partitioned warehouse table, rewriting ONLY affected
        |       partitions; prints the kept/purged audit per partition)
        |  profile <table.parquet> [--cols a,b,c] [--k N]
        |      (one-scan data-quality profile: per-column null count +
        |       KMV distinct estimate; default all columns, k=256)
        |  list-accounts
        |  test-connection
        |  test-s3
        |
        |env: SOURCE_ROOT, CUR_PATHS (csv), WAREHOUSE_DIR, JDBC_URL,
        |     JDBC_USER, JDBC_PASSWORD, DB_SCHEMA, SYNC_MONTHS, LOG_LEVEL,
        |     TEST_ACCOUNTS (csv override),
        |     AWS_ACCESS_KEY_ID, AWS_SECRET_ACCESS_KEY, AWS_REGION,
        |     S3_ENDPOINT, S3_PATH_STYLE_ACCESS (for s3a:// roots),
        |     SPARK_GRAFT_MASTER (default local[$SPARK_GRAFT_CPUS]),
        |     SPARK_GRAFT_CPUS (default: the core count),
        |     SPARK_GRAFT_MAX_PARTITION_BYTES (default 16m)""".stripMargin)
    sys.exit(2)
  }

  private def session(cfg: EngineConfig): SparkSession = {
    val b = Sessions.builder()
    // O26: the S3 surface (credentials/region/endpoint/path-style) flows
    // from EngineConfig into the Hadoop fs config so s3a:// roots work
    // unchanged (mirror of the reference's DuckDB httpfs setup,
    // aws_cur.py:44-54) — only keys actually configured, so local runs
    // stay clean. SyncE2ESpec drives the whole path offline over a
    // local-backed fs.s3a.impl stub.
    cfg.s3aHadoopConf.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    // METASTORE_DIR: persistent catalog — the durable `costs` view
    // survives restarts (the reference's PG-backed view semantics)
    cfg.metastoreDir.foreach(Sessions.durableCatalog(b, _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(cfg.logLevel)
    s
  }

  private def loaderFor(cfg: EngineConfig): Loader = cfg.jdbcUrl match {
    case Some(url) => new JdbcLoader(url, cfg.jdbcUser, cfg.jdbcPassword, cfg.schema)
    case None      => new ParquetLoader(cfg.warehouseDir, cfg.schema)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "sync" :: rest        => sync(parseSyncOpts(rest))
    case "compact" :: rest     => compact(rest)
    case "compact-index" :: rest => compactIndexCmd(rest)
    case "index-history" :: rest => indexHistoryCmd(rest)
    case "query" :: rest       => query(rest)
    case "explain" :: rest     => explainQuery(rest)
    case "lineage" :: rest     => lineageQuery(rest)
    case "corpus-prep" :: rest => corpusPrep(rest)
    case "profile" :: rest => profileCmd(rest)
    case "retention" :: rest => retentionCmd(rest)
    case "forget" :: rest => forgetCmd(rest)
    case "list-accounts" :: _  => listAccounts()
    case "test-connection" :: _ => testConnection()
    case "test-s3" :: _        => testS3()
    case _                     => usage()
  }

  /** Numeric CLI operand: parse or route to usage() like every other
    * argument error (a raw NumberFormatException stack trace is not an
    * answer to a typo). */
  private def num(s: String): Long =
    try s.toLong catch { case _: NumberFormatException =>
      System.err.println(s"not a number: $s"); usage()
    }

  /** Serve raw SQL against the session catalog — the reference's actual
    * serving mode is SQL text against its database (README.md:124-141).
    * With METASTORE_DIR set this is the restart-proof path to the
    * durable `costs` view: a fresh process resolves it straight from the
    * metastore, no re-sync. */
  private def query(args: List[String]): Unit = {
    val (sql, maxRows) = args match {
      case q :: "--max-rows" :: n :: Nil => (q, num(n).toInt)
      case q :: Nil                      => (q, 50)
      case _                             => usage()
    }
    val cfg = EngineConfig.fromEnv()
    val spark = session(cfg)
    try spark.sql(sql).show(maxRows, truncate = false)
    finally spark.stop()
  }

  /** Formatted physical plan of a DECLARED query (the Verify/Bench
    * surface) without running its FINAL job — the same audit loop the
    * specs plan-assert, exposed for operators: check PushedFilters /
    * PartitionFilters / broadcast choices / WholeStageCodegen spans on
    * the real testdata before paying for the full run. Not free for
    * every query: operators whose construction includes driver-side
    * fronts (Lloyd/IVF training, CC label rounds, bloom/min-max
    * aggregates, streaming micro-batch drains) execute those fronts
    * while the frame is built — what's skipped is the final (usually
    * dominant) job the printed plan describes. */
  private def explainQuery(args: List[String]): Unit = {
    val (name, dir) = args match {
      case n :: "--sf-dir" :: d :: Nil => (n, d)
      case n :: Nil =>
        (n, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
      case _ => usage()
    }
    Queries.byName.get(name) match {
      case None =>
        System.err.println(s"unknown declared query: $name")
        System.err.println(
          s"declared: ${Queries.all.map(_.name).sorted.mkString(", ")}")
        sys.exit(2)
      case Some(q) =>
        val cfg = EngineConfig.fromEnv()
        val spark = session(cfg)
        try println(q.fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        finally spark.stop()
    }
  }

  /** Column-level lineage of a declared query OR a catalog table/view
    * ([[plans.Lineage]]) — the governance companion to `explain`: which
    * source columns feed each output column (value lineage), plus the
    * filter/join control columns. A name that isn't a declared query is
    * resolved against the session catalog, so `lineage costs` answers
    * straight off the durable view with METASTORE_DIR set. Plan
    * analysis only; nothing executes. */
  private def lineageQuery(args: List[String]): Unit = {
    val (name, dir) = args match {
      case n :: "--sf-dir" :: d :: Nil => (n, d)
      case n :: Nil =>
        (n, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
      case _ => usage()
    }
    val cfg = EngineConfig.fromEnv()
    val spark = session(cfg)
    try {
      val df = Queries.byName.get(name) match {
        case Some(q) => q.fn(spark, dir)
        case None =>
          try spark.table(name)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            System.err.println(s"'$name' is neither a declared query nor a catalog table/view")
            System.err.println(
              s"declared: ${Queries.all.map(_.name).sorted.mkString(", ")}")
            sys.exit(2)
          }
      }
      plans.Lineage.columnLineage(df).toSeq.sortBy(_._1).foreach {
        case (out, srcs) =>
          println(s"$out <- ${srcs.toSeq.sorted.mkString(", ")}")
      }
      val ctl = plans.Lineage.controlColumns(df)
      if (ctl.nonEmpty)
        println(s"[control] ${ctl.toSeq.sorted.mkString(", ")}")
    } finally spark.stop()
  }

  /** Small-files maintenance for the parquet warehouse (see
    * [[etl.ParquetLoader.compact]]); JDBC sinks have no file layout. */
  private def compact(args: List[String]): Unit = {
    val (table, targetMb) = args match {
      case t :: "--target-mb" :: n :: Nil => (t, num(n))
      case t :: Nil                       => (t, 128L)
      case _                              => usage()
    }
    if (targetMb <= 0) { System.err.println("--target-mb must be positive"); usage() }
    val cfg = EngineConfig.fromEnv()
    loaderFor(cfg) match {
      case pl: ParquetLoader =>
        val spark = session(cfg)
        try {
          val (before, after) = pl.compact(spark, table, targetMb << 20)
          println(s"[compact] $table: $before -> $after files")
        } finally spark.stop()
      case other =>
        other.close()
        System.err.println("compact applies to the parquet warehouse sink only")
        sys.exit(1)
    }
  }

  /** Partition-retention sweep over a warehouse table
    * ([[graft.etl.ParquetLoader.retention]]). */
  private def retentionCmd(args: List[String]): Unit = {
    val (table, before, dry) = args match {
      case t :: "--before" :: d :: Nil                 => (t, d, false)
      case t :: "--before" :: d :: "--dry-run" :: Nil  => (t, d, true)
      case _                                           => usage()
    }
    val cutoff = try java.time.LocalDate.parse(before) catch {
      case _: java.time.format.DateTimeParseException =>
        System.err.println(s"not a date (want YYYY-MM-DD): $before"); usage()
    }
    val cfg = EngineConfig.fromEnv()
    loaderFor(cfg) match {
      case pl: ParquetLoader =>
        val spark = session(cfg)
        try {
          val gone = pl.retention(spark, table, cutoff, dryRun = dry)
          val verb = if (dry) "would drop" else "dropped"
          if (gone.isEmpty) println(s"[retention] $table: nothing to drop before $cutoff")
          else println(s"[retention] $table: $verb ${gone.size} partition(s): " +
            gone.mkString(", "))
        } finally spark.stop()
      case other =>
        other.close()
        System.err.println("retention applies to the parquet warehouse sink only")
        sys.exit(1)
    }
  }

  /** Right-to-be-forgotten purge of a partitioned warehouse table
    * ([[Privacy.forgetInWarehouse]]): subjects read from a one-column
    * parquet list, only partitions containing subject rows rewritten,
    * fully-purged partitions dropped; prints the per-partition audit
    * trail the deletion request requires. */
  private def forgetCmd(args: List[String]): Unit = {
    val parsed = args match {
      case t :: "--subjects" :: s :: "--key" :: k :: "--partition" :: p :: Nil =>
        (t, s, k, p)
      case _ => usage()
    }
    val (table, subjectsPath, keyCol, partCsv) = parsed
    val cfg = EngineConfig.fromEnv()
    loaderFor(cfg) match {
      case pl: ParquetLoader =>
        val spark = session(cfg)
        try {
          val subjects = spark.read.parquet(subjectsPath)
          require(subjects.columns.contains(keyCol),
            s"subjects parquet has no column '$keyCol' " +
              s"(has: ${subjects.columns.mkString(", ")})")
          val audit = Privacy.forgetInWarehouse(
            spark, pl, table, subjects, keyCol, partCsv.split(',').toSeq)
            .collect()
          if (audit.isEmpty) println(s"[forget] $table: no subject rows found")
          else audit.foreach { r =>
            println(s"[forget] ${r.getAs[String]("bucket")}: " +
              s"kept=${r.getAs[Long]("n_kept")} purged=${r.getAs[Long]("n_purged")}")
          }
        } finally spark.stop()
      case other =>
        other.close()
        System.err.println("forget applies to the parquet warehouse sink only")
        sys.exit(1)
    }
  }

  /** One-scan column profile of any parquet table
    * ([[graft.ext.Cardinality.profileColumns]]): per column, null
    * count and KMV-estimated distinct cardinality — the first look an
    * operator takes at an unfamiliar drop. */
  private def profileCmd(args: List[String]): Unit = {
    @annotation.tailrec
    def opts(rest: List[String], cols: Option[Seq[String]], k: Int)
        : (Option[Seq[String]], Int) = rest match {
      case Nil                  => (cols, k)
      case "--cols" :: v :: t   => opts(t, Some(v.split(',').toSeq.filter(_.nonEmpty)), k)
      case "--k" :: v :: t      => opts(t, cols, num(v).toInt)
      case _                    => usage()
    }
    val (in, cols0, k) = args match {
      case i :: rest => val (c, kk) = opts(rest, None, 256); (i, c, kk)
      case _         => usage()
    }
    val cfg = EngineConfig.fromEnv()
    val spark = session(cfg)
    try {
      val df = spark.read.parquet(in)
      val cols = cols0.getOrElse(df.schema.fieldNames.toSeq)
      val unknown = cols.filterNot(df.schema.fieldNames.contains)
      require(unknown.isEmpty,
        s"profile: no such column(s): ${unknown.mkString(", ")} " +
          s"(table has: ${df.schema.fieldNames.mkString(", ")})")
      graft.ext.Cardinality.profileColumns(df, cols, k)
        .orderBy("column_name")
        .collect()
        .foreach { r =>
          println(f"[profile] ${r.getString(0)}%-24s nulls=${r.getLong(1)}%-10d " +
            f"n_kmv=${r.getLong(2)}%-6d est_distinct=${r.getDouble(4)}%.1f")
        }
    } finally spark.stop()
  }

  /** Index maintenance as a CLI step (the index-lifecycle sibling of
    * `compact`): fold a persisted dedup or ANN index's append
    * generations in place — staged as a marked generation, promoted by
    * one atomic ledger PUT ([[graft.ext.Dedup.compactDedupIndex]] /
    * [[graft.ext.Similarity.compactIndex]]) — optionally reclaiming the
    * subsumed dirs. Run it from cron between ingest runs, exactly like
    * the warehouse `compact`; single-maintainer contract. */
  private def compactIndexCmd(args: List[String]): Unit = {
    val (kind, dir, vacuum) = args match {
      case k :: d :: Nil               => (k, d, false)
      case k :: d :: "--vacuum" :: Nil => (k, d, true)
      case _                           => usage()
    }
    if (kind != "dedup" && kind != "ann") {
      System.err.println(s"unknown index kind '$kind' — expected dedup or ann")
      usage()
    }
    val cfg = EngineConfig.fromEnv()
    val spark = session(cfg)
    try {
      if (kind == "dedup") {
        graft.ext.Dedup.compactDedupIndex(spark, dir)
        val n = if (vacuum) graft.ext.Dedup.vacuumDedupIndex(spark, dir) else 0
        println(s"[compact-index] dedup $dir: folded" +
          (if (vacuum) s", vacuumed $n dirs" else ""))
      } else {
        graft.ext.Similarity.compactIndex(spark, dir)
        val n = if (vacuum) graft.ext.Similarity.vacuumIndex(spark, dir) else 0
        println(s"[compact-index] ann $dir: folded" +
          (if (vacuum) s", vacuumed $n dirs" else ""))
      }
    } finally spark.stop()
  }

  /** Print the committed append history of a persisted index: one line
    * per generation — id, APPEND/COMPACTION, and any stream-batch
    * watermarks — so an operator can see which snapshots `asOfGen` time
    * travel can reach and which micro-batches each generation admitted,
    * without loading index data. */
  private def indexHistoryCmd(args: List[String]): Unit = {
    val (kind, dir) = args match {
      case k :: d :: Nil => (k, d)
      case _             => usage()
    }
    if (kind != "dedup" && kind != "ann") {
      System.err.println(s"unknown index kind '$kind' — expected dedup or ann")
      usage()
    }
    val cfg = EngineConfig.fromEnv()
    val spark = session(cfg)
    try {
      val hist =
        if (kind == "dedup") graft.ext.Dedup.indexHistory(spark, dir)
        else graft.ext.Similarity.indexHistory(spark, dir)
      if (hist.isEmpty) println(s"[index-history] $kind $dir: no committed generations (as-built state only)")
      else hist.foreach { case (id, isCompaction, tags) =>
        val kindTxt = if (isCompaction) "COMPACTION" else "APPEND"
        val tagTxt = if (tags.isEmpty) ""
          else tags.toSeq.sortBy(_._1)
            .map { case (l, b) => s"$l<=b$b" }.mkString(" stream[", ", ", "]")
        println(s"[index-history] gen $id $kindTxt$tagTxt")
      }
    } finally spark.stop()
  }

  /** The LLM-corpus production flow as a CLI step (the extension-surface
    * sibling of `sync`): quality filter → paragraph boilerplate removal
    * → fuzzy dedup over one persisted front → token-window chunking →
    * parquet sink, releasing all pipeline caches after the write
    * ([[graft.ext.CorpusPipeline.prepareAndWrite]]). Input must carry
    * (doc_id, text). With `--pack-budget` the sink rows are trainer-ready
    * fixed-token-budget sequences instead of raw chunks. */
  private def corpusPrep(args: List[String]): Unit = {
    @annotation.tailrec
    def opts(rest: List[String], shards: Option[Int], budget: Option[Int],
        spanTrim: Option[Double], surprisal: Option[Long], unicode: Option[String])
        : (Option[Int], Option[Int], Option[Double], Option[Long], Option[String]) =
      rest match {
        case Nil                         => (shards, budget, spanTrim, surprisal, unicode)
        case "--shards" :: n :: t        => opts(t, Some(num(n).toInt), budget, spanTrim, surprisal, unicode)
        case "--pack-budget" :: n :: t   => opts(t, shards, Some(num(n).toInt), spanTrim, surprisal, unicode)
        case "--span-trim" :: v :: t =>
          val d = v.toDoubleOption.getOrElse {
            System.err.println(s"not a number: $v"); usage()
          }
          opts(t, shards, budget, Some(d), surprisal, unicode)
        case "--surprisal-gate" :: v :: t =>
          opts(t, shards, budget, spanTrim, Some(num(v)), unicode)
        case "--unicode" :: f :: t =>
          // validate eagerly so a typo dies at the CLI, not mid-pipeline
          graft.functions.UnicodeNorm.ordinalOf(f)
          opts(t, shards, budget, spanTrim, surprisal, Some(f))
        case _                           => usage()
      }
    val (in, out, shards, budget, spanTrim, surprisal, unicode) = args match {
      case i :: o :: rest =>
        val (s, b, st, sg, uf) = opts(rest, None, None, None, None, None)
        (i, o, s, b, st, sg, uf)
      case _ => usage()
    }
    val cfg = EngineConfig.fromEnv()
    val spark = session(cfg)
    try {
      val res = graft.ext.CorpusPipeline.prepareAndWrite(
        spark.read.parquet(in), out, shards = shards, packBudget = budget,
        spanTrimAt = spanTrim, surprisalFlagAt = surprisal,
        unicodeForm = unicode)
      val what = budget.map(b => s"sequences (budget $b)").getOrElse("chunks")
      val how = shards.map(n => s" in $n shards").getOrElse("")
      println(s"[corpus-prep] ${res.chunksWritten} $what$how -> ${res.path}")
    } finally spark.stop()
  }

  private def parseSyncOpts(args: List[String]): Sync.Options = {
    @annotation.tailrec
    def go(rest: List[String], o: Sync.Options): Sync.Options = rest match {
      case Nil => o
      case "--months" :: n :: t   => go(t, o.copy(months = num(n).toInt))
      case "-m" :: n :: t         => go(t, o.copy(months = num(n).toInt))
      case "--raw-only" :: t      => go(t, o.copy(rawOnly = true))
      case "--incremental" :: t   => go(t, o.copy(incremental = true))
      case "--dry-run" :: t       => go(t, o.copy(dryRun = true))
      case "--all-accounts" :: t  => go(t, o.copy(allAccounts = true))
      case "--no-file-audit" :: t => go(t, o.copy(auditFiles = false))
      case "--auto-salt" :: t     => go(t, o.copy(autoSalt = true))
      case "--as-of" :: d :: t    => go(t, o.copy(asOf = LocalDate.parse(d)))
      case bad :: _               => System.err.println(s"unknown option: $bad"); usage()
    }
    go(args, Sync.Options(months = EngineConfig.fromEnv().syncMonths))
  }

  private def sync(opts: Sync.Options): Unit = {
    val cfg = EngineConfig.fromEnv()
    if (cfg.curPaths.isEmpty) {
      System.err.println("CUR_PATHS is empty — nothing to sync"); sys.exit(1)
    }
    val spark = session(cfg)
    val loader = loaderFor(cfg)
    try {
      val res = Sync.run(spark, cfg, loader, opts)
      res.tables.foreach { t =>
        println(f"[sync] ${t.table}%-24s ${t.status}%-8s raw=${t.rawRows}%-8d norm=${t.normRows}%-8d ${t.seconds}%.2fs${t.error.map(" " + _).getOrElse("")}")
      }
      println(s"[sync] total rows loaded: ${res.totalRows}")
      if (res.tables.exists(_.status == "error")) sys.exit(1)
    } finally { loader.close(); spark.stop() }
  }

  private def listAccounts(): Unit = {
    Accounts.registry.foreach { a =>
      val region = a.regionFilter.map(r => s" (region: $r)").getOrElse("")
      println(s"  ${a.id}  ${a.name}$region")
    }
    println(s"Total: ${Accounts.registry.size} accounts")
  }

  private def testConnection(): Unit = {
    val cfg = EngineConfig.fromEnv()
    cfg.jdbcUrl match {
      case Some(url) =>
        try {
          val c = java.sql.DriverManager.getConnection(url, {
            val p = new java.util.Properties()
            if (cfg.jdbcUser.nonEmpty) p.setProperty("user", cfg.jdbcUser)
            if (cfg.jdbcPassword.nonEmpty) p.setProperty("password", cfg.jdbcPassword)
            p
          })
          val meta = c.getMetaData
          println(s"Connected: ${meta.getDatabaseProductName} ${meta.getDatabaseProductVersion}")
          c.close()
        } catch {
          case e: Exception => System.err.println(s"Connection failed: ${e.getMessage}"); sys.exit(1)
        }
      case None =>
        val dir = new java.io.File(cfg.warehouseDir)
        dir.mkdirs()
        if (dir.canWrite) println(s"Parquet warehouse writable: ${cfg.warehouseDir}")
        else { System.err.println(s"Warehouse not writable: ${cfg.warehouseDir}"); sys.exit(1) }
    }
  }

  /** File-count probe per source path (main.py:185-210 / aws_cur glob
    * count) — metadata-only, no data read. */
  private def testS3(): Unit = {
    val cfg = EngineConfig.fromEnv()
    if (cfg.curPaths.isEmpty) { System.err.println("CUR_PATHS is empty"); sys.exit(1) }
    val spark = session(cfg)
    try {
      var failed = false
      cfg.curPaths.foreach { p =>
        val root = s"${cfg.sourceRoot}/$p"
        val n = CurSource.fileCount(spark, root)
        if (n == 0) failed = true
        println(s"$root: $n parquet files")
      }
      if (failed) sys.exit(1)
    } finally spark.stop()
  }
}
