package graft.etl

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Table writers — mirror of the reference's PostgreSQL loader
  * (reference src/loaders/postgresql.py:38-160): namespace management,
  * overwrite (drop-create) / append / fail semantics, loader-side
  * identifier cleaning, empty-input short-circuit, DDL inferred from the
  * data's schema, and a SQL script runner.
  *
  * Two sinks share the contract:
  *  - [[JdbcLoader]] — the direct mirror: `df.write.jdbc` with
  *    batchsize 10_000 (the reference's execute_values page size,
  *    postgresql.py:51,96). Writes run partition-parallel from the
  *    executors — no driver-side row materialization ever, which is the
  *    reference's documented OOM (CLAUDE.md:128-133) fixed by
  *    construction.
  *  - [[ParquetLoader]] — the lake-side sink for a serving tier that is
  *    itself Spark: one parquet directory per table under
  *    `warehouse/schema/`, registered in the session catalog. At 100 TB
  *    this is the primary path (columnar, partition-parallel,
  *    predicate-pushdown-able by every reader); JDBC serves dashboards.
  */
trait Loader extends AutoCloseable {

  /** CREATE SCHEMA IF NOT EXISTS (postgresql.py:38-44). */
  def ensureNamespace(): Unit

  /** Load a frame. Returns rows loaded. Semantics (postgresql.py:46-107):
    * empty input → warn + 0 without touching the target; column names
    * cleaned loader-side; `replace` drops and recreates, `append` inserts,
    * `fail` errors if the table exists.
    *
    * `upsert_partitions` (parquet sink only, requires `partitionBy`):
    * dynamic partition overwrite — ONLY the partition values present in
    * the incoming frame are rewritten; every other partition is left
    * untouched. The incremental-sync primitive: at 100 TB a 1-month
    * re-sync over a multi-year table rewrites 1/36th of it instead of
    * all of it. JDBC sinks reject the mode (no portable partition
    * semantics) rather than silently degrading.
    *
    * `partitionBy` requests a physically partitioned layout where the
    * sink supports one (the parquet sink; JDBC sinks ignore it) — at
    * 100 TB the serving tier must prune on its query keys, so the sync
    * writes normalized tables partitioned by `date`. */
  def load(df: DataFrame, table: String, ifExists: String = "replace",
      partitionBy: Seq[String] = Nil): Long

  /** [[load]] with a write-clustering salt: `clusterSalt > 1` spreads
    * each partition value's rows over up to that many writer tasks
    * (`repartition(keys :+ salt)`) instead of the default one-file-per-
    * value clustering. The statistics-driven remedy for a HOT partition
    * value — a date owning most of a sync window would otherwise funnel
    * through ONE writer task and emit one giant file (the straggler
    * shape [[graft.ext.Skew]] measures; see `Sync.Options.autoSalt`).
    * Sinks without physical clustering (JDBC) ignore the salt. */
  def loadClustered(df: DataFrame, table: String, ifExists: String,
      partitionBy: Seq[String], clusterSalt: Int): Long =
    load(df, table, ifExists, partitionBy)

  /** Read a previously-loaded table back (serving-side scan). */
  def table(spark: SparkSession, name: String): DataFrame

  /** Read back a just-written table when the sink is itself an efficient
    * distributed Spark source (the parquet sink; JDBC sinks return None —
    * an unpartitioned JDBC scan would serialize the transform). Lets the
    * sync normalize from the local raw copy instead of scanning the
    * remote source a second time — at ingest scale that halves source
    * (S3) I/O per table. */
  def readBack(spark: SparkSession, table: String): Option[DataFrame] = None

  /** SQL-addressable reference to a loaded table, when the sink is
    * directly addressable from a Spark SQL statement (used for the
    * durable `costs` view DDL; JDBC sinks serve their own views). */
  def sqlRef(table: String): Option[String] = None

  /** Execute a .sql script: statements split on ';', run in order
    * (postgresql.py:151-160). */
  def runSqlScript(spark: SparkSession, path: String): Unit

  override def close(): Unit = ()

  protected def saveMode(ifExists: String): SaveMode = ifExists match {
    case "replace" => SaveMode.Overwrite
    case "append"  => SaveMode.Append
    case "fail"    => SaveMode.ErrorIfExists
    case other     => throw new IllegalArgumentException(s"if_exists=$other")
  }

  /** Loader-side identifier cleaning applied to every outgoing frame
    * (postgresql.py:109-123). */
  protected def cleaned(df: DataFrame): DataFrame =
    df.toDF(Identifiers.cleanColumns(df.columns.toSeq): _*)

  /** Run `write` on the frame with an [[Observation]] attached and return
    * the rows written — ONE action computes and counts the data (the
    * reference returns rows loaded; a separate `count()` would scan the
    * full input twice per table, 2× I/O at 100 TB ingest).
    *
    * Caveat: the observed count is an accumulator metric, so a
    * speculatively re-executed or retried task can inflate it — it is a
    * load metric, not a committed-row audit. The parquet sink's commit
    * protocol discards duplicate task output, so the files are correct
    * either way; the JDBC sink audits committed rows against the target
    * instead (see [[JdbcLoader.load]]). */
  protected def writeCounted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  protected def statements(sqlText: String): Seq[String] =
    sqlText.split(";").map(_.trim).filter(_.nonEmpty).toSeq
}

/** Parquet warehouse sink: `warehouseDir/schema/table/` per table. */
final class ParquetLoader(warehouseDir: String, schema: String) extends Loader {
  private def dir(table: String) = s"$warehouseDir/$schema/$table"

  /** The table's LIVE data directory: the base dir until the first
    * compaction, then the generation its [[ManifestCommit]] manifest
    * names. Self-describing (driven by manifest presence, not scheme),
    * so every read and write path below resolves identically; the cost
    * on never-compacted tables is one existence probe. */
  private def dataDir(spark: SparkSession, table: String): String = {
    val base = new HPath(dir(table))
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestCommit.resolve(fs, base).toString
  }

  override def ensureNamespace(): Unit = {
    // through the Hadoop filesystem (not java.io) so a non-file: warehouse
    // scheme (hdfs, the graftfs contract test) creates its namespace too
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new HPath(s"$warehouseDir/$schema")
    p.getFileSystem(conf).mkdirs(p)
    ()
  }

  override def load(df: DataFrame, table: String, ifExists: String,
      partitionBy: Seq[String]): Long =
    loadClustered(df, table, ifExists, partitionBy, clusterSalt = 1)

  override def loadClustered(df: DataFrame, table: String, ifExists: String,
      partitionBy: Seq[String], clusterSalt: Int): Long = {
    require(clusterSalt >= 1, s"clusterSalt must be >= 1, got $clusterSalt")
    val dynamic = ifExists == "upsert_partitions"
    require(!dynamic || partitionBy.nonEmpty,
      "upsert_partitions requires a partitioned layout (partitionBy)")
    if (df.isEmpty) return 0L // postgresql.py:64-66
    // Cluster rows by the partition keys before a partitionBy write:
    // without this every one of the N shuffle partitions opens a writer
    // per partition value (dates × N tiny files, and N× the write cost).
    // One shuffle up front → one file per date. A single date too big
    // for one task is the `clusterSalt > 1` path: repartition on
    // (keys :+ salt) spreads every value over up to clusterSalt writer
    // tasks — the hot date becomes clusterSalt parallel writes/files
    // instead of one straggler, at the cost of up-to-clusterSalt files
    // for the quiet dates too (why it is decision-gated, not default:
    // see Sync.Options.autoSalt). At the serving tier's per-date
    // volumes one columnar file per date is the right layout for
    // pruning readers.
    val clustered = {
      val c = cleaned(df)
      val keys = partitionBy.map(org.apache.spark.sql.functions.col)
      if (partitionBy.isEmpty) c
      else if (clusterSalt > 1) {
        // withRowSalt's recompute-determinism contract has one documented
        // hole: rows differing ONLY in unorderable (map-typed) columns tie
        // completely in the canonicalization sort, so a fetch-failure
        // recompute could swap their salts — harmless for saltedJoin
        // (multiset output) but a duplicate/lose hazard for THIS path's
        // downstream (keys, salt) shuffle. Partitioned warehouse tables
        // don't carry map columns; refuse loudly rather than risk it.
        val mapCols = c.schema.fields.collect {
          case f if !org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(f.dataType) => f.name
        }
        require(mapCols.isEmpty,
          s"loadClustered with clusterSalt > 1 requires all columns orderable " +
            s"(salt replay-safety); unorderable columns: ${mapCols.mkString(", ")}")
        // explicit numPartitions: AQE's post-shuffle coalesce would
        // otherwise re-collapse the spread this path exists to create
        // (small-looking shuffles fold back to one writer task — the
        // straggler again). The salt column is dropped after placement
        // so it never reaches the written files.
        graft.ext.Skew.withRowSalt(c, clusterSalt)
          .repartition(c.sparkSession.sessionState.conf.numShufflePartitions,
            (keys :+ org.apache.spark.sql.functions.col("__salt")): _*)
          .drop("__salt")
      } else c.repartition(keys: _*)
    }
    // dynamic partition overwrite is a per-write option (no session-conf
    // toggle): Overwrite then only replaces the partition values the
    // frame actually carries. EXCEPT when the existing table was written
    // UNPARTITIONED (a replace-mode table being switched to incremental):
    // dynamic overwrite would leave the old root-level files next to the
    // new partition dirs — a mixed, double-counting layout. Detect that
    // and make the first incremental write a one-time full partitioned
    // rewrite (semantically what replace mode held anyway: the current
    // window).
    // detection goes through the Hadoop filesystem, not java.io: an
    // object-store warehouse (s3a://) would silently return "no files"
    // from a local File listing and dynamic-overwrite a mixed layout —
    // the exact corruption this guard exists to prevent
    // all writes land in the manifest-resolved generation: after a
    // compaction, appends must reach the directory readers resolve, not
    // the retired base dir
    val target = dataDir(df.sparkSession, table)
    val migrate = dynamic && {
      val p = new org.apache.hadoop.fs.Path(target)
      val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      if (!fs.exists(p)) false
      else {
        val rootFiles = fs.listStatus(p).exists(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))
        // A table partitioned by DIFFERENT columns has no root files, so
        // the unpartitioned check alone would let dynamic overwrite
        // interleave two partition layouts (e.g. date=... dirs next to
        // year=.../month=... dirs — the same double-counting corruption).
        // Recover the existing keys by walking the first `k=`-named child
        // at each level and compare against the requested partitionBy.
        @annotation.tailrec
        def keyChain(cur: org.apache.hadoop.fs.Path,
            acc: List[String]): List[String] =
          fs.listStatus(cur).find(s =>
            s.isDirectory && s.getPath.getName.contains("=")) match {
            case Some(d) =>
              keyChain(d.getPath, acc :+ d.getPath.getName.takeWhile(_ != '='))
            case None => acc
          }
        val existing = keyChain(p, Nil)
        val mismatch = existing.nonEmpty && existing != partitionBy.toList
        if (rootFiles)
          System.err.println(s"[load] $table: existing unpartitioned layout; " +
            "first incremental write performs a one-time full partitioned rewrite")
        else if (mismatch)
          System.err.println(s"[load] $table: existing layout is partitioned by " +
            s"(${existing.mkString(", ")}) but this write requests " +
            s"(${partitionBy.mkString(", ")}); performing a one-time full " +
            "rewrite instead of interleaving two partition layouts")
        rootFiles || mismatch
      }
    }
    val mode = if (dynamic) SaveMode.Overwrite else saveMode(ifExists)
    writeCounted(clustered)(
      _.write.mode(mode)
        .option("partitionOverwriteMode", if (dynamic && !migrate) "dynamic" else "static")
        .partitionBy(partitionBy: _*).parquet(target))
  }

  override def table(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(dataDir(spark, name))

  override def readBack(spark: SparkSession, table: String): Option[DataFrame] =
    // mergeSchema: an incremental raw table accumulates months whose
    // schemas drift (the reason prunedScan merges on the source side);
    // a single-footer schema pick could silently lose a column that
    // first appears in the newest month
    Some(spark.read.option("mergeSchema", "true").parquet(dataDir(spark, table)))

  /** Drop specific partition directories by their key=value chain
    * (ordered as the table's partitionBy). The targeted complement of
    * [[retention]]'s date sweep, needed by operations that must remove
    * a partition ENTIRELY — e.g. a privacy purge that empties one
    * ([[Privacy.forgetInWarehouse]]): Spark's dynamic partition
    * overwrite only touches partitions PRESENT in the written frame,
    * so an all-rows-purged partition would otherwise silently survive.
    * Values are Hive-escaped into directory names exactly as the writer
    * escapes them (':', '%', '=' …), and a NULL value maps to the
    * `__HIVE_DEFAULT_PARTITION__` dir — without this, a fully-purged
    * partition whose value needs escaping (or is NULL) would survive on
    * disk while the caller reads "dropped".
    * Returns the partitions actually removed. Idempotent. */
  def dropPartitions(spark: SparkSession, table: String,
      parts: Seq[Seq[(String, String)]]): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val root = new HPath(dataDir(spark, table))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    parts.flatMap { kvs =>
      require(kvs.nonEmpty, "dropPartitions: empty partition spec")
      // getPartitionPathString maps null/empty to DEFAULT_PARTITION_NAME
      // and Hive-escapes everything else — the writer's own convention
      val p = kvs.foldLeft(root) { case (acc, (k, v)) =>
        new HPath(acc, ExternalCatalogUtils.getPartitionPathString(k, v))
      }
      if (fs.exists(p) && fs.delete(p, true)) Some(p.toString) else None
    }
  }

  /** Partition-retention sweep — the warehouse's data-lifecycle op:
    * drop partitions whose period ENDS strictly before `before`
    * (a `date=d` dir when `d < before`; a `month` dir when its last
    * day is before `before`; a whole `year=` dir when Dec 31 is).
    * Both layouts this sink writes are handled: the raw tables'
    * nested `year=/month=` chain and the normalized `date=` layout.
    *
    * Safety model: each partition directory is removed with ONE
    * recursive delete — per-dir atomic on rename filesystems, multi-op
    * on object stores, and in both cases the sweep is IDEMPOTENT: a
    * crash mid-sweep (or mid-partition on an object store) leaves a
    * strict subset deleted and a re-run completes it. Partition names
    * that don't parse (unknown key, non-numeric value) are SKIPPED
    * with a warning, never guessed at — an unrecognized layout must
    * not be silently truncated. Resolves through [[ManifestCommit]]
    * like every read path, so the sweep hits the generation readers
    * actually see. Returns the dropped partition labels (what WOULD
    * drop, under `dryRun`).
    *
    * CONCURRENCY CONTRACT (ADVICE r13): retention is an OFFLINE
    * lifecycle op, same maintenance class as [[compact]] — no
    * concurrent readers or loads on the table while the sweep runs.
    * It deletes partition dirs IN PLACE inside the live generation, so
    * a reader that resolved the same generation mid-sweep can hit
    * FileNotFound on a just-dropped partition. This is deliberate, not
    * an oversight: staging the sweep as a new [[ManifestCommit]]
    * generation would make visibility atomic but would have to COPY
    * every surviving byte on an object store (generation = whole
    * directory; object-store "rename" is copy+delete) — rewriting
    * ~100 TB to drop one expired month inverts the op's purpose. The
    * in-place sweep is idempotent and per-partition bounded; schedule
    * it in the same maintenance window compaction already requires. */
  def retention(spark: SparkSession, table: String,
      before: java.time.LocalDate, dryRun: Boolean = false): Seq[String] = {
    val root = new HPath(dataDir(spark, table))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    def kids(p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.filter(_.isDirectory)
    def kv(name: String): Option[(String, String)] = {
      val i = name.indexOf('=')
      if (i <= 0) None else Some((name.substring(0, i), name.substring(i + 1)))
    }
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    def drop(p: HPath, label: String): Unit = {
      // record only what is actually gone: a filesystem that reports a
      // failed delete with `false` (permissions, concurrent writer)
      // must not let the operator read "dropped" off the CLI while the
      // data is still on disk — warn and leave it for a re-run
      if (dryRun || fs.delete(p, true)) dropped += label
      else System.err.println(s"[retention] $table: delete FAILED for $label — " +
        "left in place; fix permissions and re-run")
    }
    def skip(name: String): Unit =
      System.err.println(s"[retention] $table: unrecognized partition dir '$name' — " +
        "skipped (only date= and year=/month= layouts are swept)")
    def monthEndsBefore(y: Int, m: Int): Boolean =
      java.time.LocalDate.of(y, m, 1).plusMonths(1).minusDays(1).isBefore(before)
    kids(root).foreach { st =>
      val name = st.getPath.getName
      kv(name) match {
        case Some(("date", v)) =>
          scala.util.Try(java.time.LocalDate.parse(v)).toOption match {
            case Some(d) if d.isBefore(before) => drop(st.getPath, name)
            case Some(_)                       => ()
            case None                          => skip(name)
          }
        case Some(("year", v)) =>
          // bound the year before LocalDate.of so a garbage value
          // (year=2000000000 parses as Int but not as a date) is
          // SKIPPED like every other unrecognized name, instead of
          // aborting the whole sweep from inside a pattern guard
          v.toIntOption.filter(y => y >= 0 && y <= 9999) match {
            case Some(y) if java.time.LocalDate.of(y, 12, 31).isBefore(before) =>
              drop(st.getPath, name) // every month of the year is expired
            case Some(y) =>
              kids(st.getPath).foreach { ms =>
                val mName = ms.getPath.getName
                kv(mName) match {
                  case Some(("month", mv)) => mv.toIntOption match {
                    case Some(m) if m >= 1 && m <= 12 && monthEndsBefore(y, m) =>
                      drop(ms.getPath, s"$name/$mName")
                    case Some(m) if m >= 1 && m <= 12 => ()
                    case _                            => skip(s"$name/$mName")
                  }
                  case _ => skip(s"$name/$mName")
                }
              }
              // a year dir emptied by the month sweep is itself dead
              if (!dryRun && kids(st.getPath).isEmpty &&
                  !fs.listStatus(st.getPath).exists(_.isFile)) {
                fs.delete(st.getPath, true)
                ()
              }
            case None => skip(name)
          }
        case Some(_) => skip(name)
        case None    => () // data files / _SUCCESS at the root: not partitions
      }
    }
    dropped.toSeq.sorted
  }

  /** Compact a table's file layout to ~`targetBytes` per output file —
    * the operational answer to the small-files problem: streaming
    * appends (foreachBatch writes one file set per micro-batch) and
    * fine-grained partitionBy fragment a table into files whose open/
    * footer cost dominates scans at 100 TB. One distributed pass:
    * read → repartition to ceil(bytes/target) → write the next
    * generation `<t>__vNNNNN` in full → commit it with ONE manifest PUT
    * ([[ManifestCommit]]) → re-point the catalog views that named the
    * retired generation → delete the retired generation. The same
    * protocol runs on every scheme: on an object store the PUT is the
    * only safe commit point (rename is a copy+delete), and on a
    * filesystem with atomic rename it holds as well. Readers see the old
    * generation or the new one, never a mix or a missing table; a crash
    * anywhere leaves garbage that the next compact's entry repair
    * ([[ManifestCommit.repair]]) deletes. A crash between the PUT and the
    * view re-point leaves those views on the retired generation until
    * the next compact re-points them. Partitioned layouts keep their
    * partition columns (re-clustered one file per value, the loader's
    * write discipline) with directory names preserved verbatim.
    *
    * Directories left by an interrupted two-rename swap of an older
    * release (`<t>__old`, `<t>__compact`) make it fail without deleting
    * anything: which of them holds the only copy of some rows depends on
    * where the crash hit, so the operator decides.
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, table: String, targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes > 0, s"compact targetBytes must be positive, got $targetBytes")
    val base = new HPath(dir(table))
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new HPath(base.getParent, s"${base.getName}__old")
    val staging = new HPath(base.getParent, s"${base.getName}__compact")
    Seq(old, staging).find(fs.exists).foreach { left =>
      sys.error(s"compact: found $left, left by an interrupted two-rename compaction " +
        "of an older release; nothing was deleted. Fix it by hand, then re-run: if " +
        s"$base is missing, rename $old back to $base; remove the dead staging dir " +
        s"$staging; remove $old once its rows are known to be in $base.")
    }
    val data = ManifestCommit.repair(fs, base)
    require(fs.exists(data) && fs.getFileStatus(data).isDirectory,
      s"compact: no such table directory: $data")
    val before = parquetFilesIn(fs, data)
    if (before.isEmpty) return (0, 0) // nothing to compact (empty table dir)
    val (clustered, partCols) = reclustered(spark, data, before, targetBytes)
    val next = ManifestCommit.currentVersion(fs, base).getOrElse(0L) + 1
    val target = ManifestCommit.versionDir(base, next)
    // a crashed previous write to this generation was discarded by
    // repair only if the version advanced; same-version leftovers are
    // replaced by the Overwrite below
    clustered.write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*).parquet(target.toString)
    ManifestCommit.record.write(fs, base, next) // THE commit: one manifest PUT
    repointViews(spark, base, target)
    fs.delete(data, true) // best-effort; a lost cleanup is repaired on next entry
    (before.size, parquetFilesIn(fs, target).size)
  }

  /** Re-point every persistent catalog view whose definition names a
    * retired generation of `base` (the base dir or any `__vNNNNN`
    * sibling, as [[sqlRef]] wrote it) at `live`. Compaction moves the
    * live directory, and a path-based view such as Sync's durable
    * `costs` ([[CostsView.createDurable]]) would otherwise read a
    * deleted one. `ALTER VIEW` keeps each view's other properties. */
  private def repointViews(spark: SparkSession, base: HPath, live: HPath): Unit = {
    val catalog = spark.sessionState.catalog
    def retired(p: HPath) = p != live && p.getParent == base.getParent &&
      (p.getName == base.getName || ManifestCommit.record.number(base, p.getName).isDefined)
    for {
      db <- catalog.listDatabases()
      view <- catalog.listViews(db, "*") if !catalog.isTempView(view)
      text <- catalog.getTableMetadata(view).viewText
      repointed = ParquetRef.replaceAllIn(text, m =>
        scala.util.matching.Regex.quoteReplacement(
          if (retired(new HPath(m.group(1).replace("``", "`")))) sqlRefOf(live.toString)
          else m.matched))
      if repointed != text
    } spark.sql(s"ALTER VIEW ${view.quotedString} AS $repointed")
  }

  /** Recursive leaf-file listing (partition dirs included). */
  private def parquetFilesIn(fs: org.apache.hadoop.fs.FileSystem,
      p: HPath): Seq[org.apache.hadoop.fs.FileStatus] = {
    val kids = fs.listStatus(p).toSeq
    kids.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")) ++
      kids.filter(_.isDirectory).flatMap(s => parquetFilesIn(fs, s.getPath))
  }

  /** Shared compaction read+recluster: returns the frame repartitioned
    * to the target layout and the partition columns to write with. */
  private def reclustered(spark: SparkSession, data: HPath,
      before: Seq[org.apache.hadoop.fs.FileStatus],
      targetBytes: Long): (DataFrame, Seq[String]) = {
    val totalBytes = before.map(_.getLen).sum
    // Read with partition-column TYPE INFERENCE OFF: inference would
    // rewrite a zero-padded or string-typed partition value (month=01)
    // as its inferred form (month=1), changing directory names for any
    // non-self-describing layout. With inference off the values round-
    // trip as the exact strings in the directory names; readers
    // re-infer types on their next scan as before. The conf is flipped
    // in an ISOLATED session (shares the SparkContext and cache, own
    // SQLConf) — toggling it on the caller's session would race any
    // concurrent reader in the same JVM into string-typed partition
    // columns for the toggle window.
    val df = {
      val isolated = spark.newSession()
      // carry the caller's runtime SQL confs over (newSession starts
      // from the SparkContext conf only — a runtime-set conf like
      // ignoreCorruptFiles or a rebase mode must apply to this read
      // too); static/immutable entries are skipped
      spark.conf.getAll.foreach { case (k, v) =>
        try isolated.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
      isolated.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      isolated.read.parquet(data.toString)
    }
    // partition columns (year=/month=/date= dirs) are those in the read
    // schema but absent from every leaf file's own columns — recluster by
    // them; flat tables get an even coalesce to the byte-derived count
    val partCols = {
      val leaf = spark.read.parquet(before.head.getPath.toString).columns.toSet
      df.columns.filterNot(leaf.contains).toSeq
    }
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val clustered =
      if (partCols.nonEmpty) {
        // partitioned layouts recluster one file per partition value —
        // targetBytes does not split an oversized single value (that
        // needs a salt keyed on per-value sizes); surface the discard
        // instead of silently honoring only part of the contract
        val maxDir = before.groupBy(_.getPath.getParent).values.map(_.map(_.getLen).sum).max
        if (maxDir > targetBytes)
          System.err.println(f"[compact] warning: largest partition value holds " +
            f"${maxDir / 1048576.0}%.1f MiB > target ${targetBytes / 1048576.0}%.1f MiB; " +
            "partitioned compaction writes one file per value")
        df.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
      } else df.repartition(nOut)
    (clustered, partCols)
  }

  override def sqlRef(table: String): Option[String] =
    // resolve through the manifest when a session is at hand, so a view
    // created after a compaction names the live generation
    Some(sqlRefOf(SparkSession.getActiveSession
      .map(s => dataDir(s, table)).getOrElse(dir(table))))

  // backticks inside a backtick-quoted identifier escape by doubling —
  // an adversarial warehouse path cannot break out of (or inject into)
  // the view DDL this ref is interpolated into
  private def sqlRefOf(path: String): String = s"parquet.`${path.replace("`", "``")}`"

  /** A [[sqlRefOf]] reference inside view text; group 1 is the escaped path. */
  private val ParquetRef = "parquet\\.`((?:[^`]|``)*)`".r

  override def runSqlScript(spark: SparkSession, path: String): Unit =
    statements(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")).foreach(spark.sql(_))
}

/** JDBC sink — postgresql.py's direct equivalent on Spark's JDBC writer.
  * DDL is derived from `df.schema` by Spark's JdbcUtils (the automatic
  * version of the reference's dtype→PG map, postgresql.py:125-149). */
final class JdbcLoader(url: String, user: String, password: String, schema: String)
    extends Loader {

  private val props = {
    val p = new java.util.Properties()
    if (user.nonEmpty) p.setProperty("user", user)
    if (password.nonEmpty) p.setProperty("password", password)
    p
  }

  private def qualified(table: String) = s"$schema.$table"

  private def withConnection[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  override def ensureNamespace(): Unit = withConnection { c =>
    // Not every dialect has IF NOT EXISTS for schemas (Derby doesn't):
    // attempt create, tolerate already-exists.
    try { c.createStatement().execute(s"CREATE SCHEMA $schema") }
    catch { case _: java.sql.SQLException => () }
  }

  override def load(df: DataFrame, table: String, ifExists: String,
      partitionBy: Seq[String]): Long = {
    // JDBC tables have no physical partitioning; the layout hint is a
    // parquet-sink concern (indexes serve the same role in PG).
    require(ifExists != "upsert_partitions",
      "upsert_partitions is a parquet-sink mode; JDBC sinks have no portable " +
        "partition-overwrite semantics (use replace, or a DB-side MERGE)")
    if (df.isEmpty) return 0L
    val out = cleaned(df)
    val mode = saveMode(ifExists)
    // Committed-row fidelity: a retried/speculated task can inflate an
    // Observation count, and a partially-failed JDBC write could observe
    // rows that never committed. Audit the target itself — COUNT(*)
    // after the write (diffed against before, for append). The count
    // runs DB-side; no second scan of the Spark input.
    val before = if (mode == SaveMode.Append) tableCount(table) else 0L
    // Overwrite vs database-side dependent views (the reference's
    // persistent `costs` view): Spark's overwrite issues a PLAIN
    // DROP TABLE, which PostgreSQL refuses while a view depends on the
    // table — the second sync run would fail. The reference answers with
    // DROP TABLE ... CASCADE (postgresql.py:77-79), silently killing the
    // view until its next CREATE. Do better when possible: if the target
    // exists with the same column names AND types, TRUNCATE + reload —
    // dependent views survive the refresh entirely. Any schema change
    // (renamed column OR retyped column — a name-only check would
    // TRUNCATE away the old rows and then fail the insert, or silently
    // keep stale column types) falls back to drop-and-recreate, trying
    // CASCADE first (PG) and a plain DROP for dialects without it
    // (Derby). Types compare on the Spark side: the existing table's
    // JDBC schema read back through the dialect vs the outgoing frame —
    // a type that doesn't round-trip identically (rare: Byte→Short)
    // just takes the safe drop path.
    val truncate = mode == SaveMode.Overwrite && targetSparkSchema(df, table).exists {
      existing =>
        existing.length == out.schema.length &&
          existing.sortBy(_.name.toLowerCase)
            .zip(out.schema.fields.sortBy(_.name.toLowerCase))
            .forall { case (a, b) =>
              a.name.equalsIgnoreCase(b.name) && a.dataType == b.dataType &&
                // nullability tightening (existing NOT NULL, incoming
                // nullable) is a schema change too: TRUNCATE would destroy
                // the rows and then the insert fails on the first null —
                // exactly the truncate-then-fail mode this check prevents.
                // Loosening (existing nullable) is always TRUNCATE-safe.
                (a.nullable || !b.nullable)
            }
    }
    if (mode == SaveMode.Overwrite && !truncate) dropForOverwrite(table)
    out.write
      .mode(mode)
      // execute_values page_size mirror (postgresql.py:51,96)
      .option("batchsize", 10000)
      .option("truncate", truncate.toString)
      .jdbc(url, qualified(table), props)
    tableCount(table) - before
  }

  /** The existing target's schema as Spark sees it (dialect-mapped);
    * None when the table does not exist. Existence goes through the
    * metadata probe first so a transient failure on the schema read
    * propagates instead of reading as "absent" (which would needlessly
    * drop-and-recreate). The read resolves schema only — no data query.
    *
    * Nullability comes from JDBC DatabaseMetaData, NOT the Spark
    * read-back: Spark's JDBC reader marks every column nullable
    * (verified on Derby — metadata says NOT NULL, the read-back schema
    * says nullable), which would blind the truncate-safety check to
    * nullability tightening. Columns the metadata probe cannot resolve
    * (pattern quirks) stay at the read-back's nullable=true, which is
    * the conservative direction for that check. */
  private def targetSparkSchema(df: DataFrame,
      table: String): Option[Seq[org.apache.spark.sql.types.StructField]] = {
    val exists = withConnection(c => tableExists(c, table))
    if (!exists) None
    else {
      val fields = df.sparkSession.read.jdbc(url, qualified(table), props)
        .schema.fields.toSeq
      val notNull = withConnection { c =>
        val md = c.getMetaData
        Seq(table, table.toUpperCase, table.toLowerCase).view.map { t =>
          val rs = md.getColumns(null, null, likeQuoted(md, t), null)
          val cols = Iterator.continually(rs)
            .takeWhile(_.next())
            .map(r => (r.getString("COLUMN_NAME"), r.getString("IS_NULLABLE")))
            .toList
          cols.collect { case (n, "NO") => n.toLowerCase }.toSet -> cols.nonEmpty
        }.collectFirst { case (nn, true) => nn }.getOrElse(Set.empty[String])
      }
      Some(fields.map(f =>
        if (notNull(f.name.toLowerCase)) f.copy(nullable = false) else f))
    }
  }

  /** Drop the target ahead of a schema-changing overwrite. CASCADE first
    * (PostgreSQL — the reference's semantics, postgresql.py:77-79, so
    * dependent views don't block the drop); dialects without DROP TABLE
    * CASCADE (Derby) fall back to a plain DROP. If both fail, surface
    * the dependency context instead of Spark's opaque write failure. */
  private def dropForOverwrite(table: String): Unit = withConnection { c =>
    if (tableExists(c, table)) {
      def attempt(sql: String): Option[java.sql.SQLException] =
        try { c.createStatement().execute(sql); None }
        catch { case e: java.sql.SQLException => Some(e) }
      attempt(s"DROP TABLE ${qualified(table)} CASCADE").foreach { _ =>
        attempt(s"DROP TABLE ${qualified(table)}").foreach { e =>
          throw new IllegalStateException(
            s"overwrite cannot drop ${qualified(table)} for recreate — likely a " +
              "dependent view on a dialect without DROP TABLE CASCADE; drop the " +
              s"dependent view(s) and retry: ${e.getMessage}", e)
        }
      }
    }
  }

  /** Escape LIKE metacharacters for DatabaseMetaData pattern arguments:
    * every `_` in our underscore-heavy names is a single-char wildcard
    * unless escaped with the driver's escape string. */
  private def likeQuoted(md: java.sql.DatabaseMetaData, s: String): String = {
    val esc = Option(md.getSearchStringEscape).getOrElse("\\")
    s.flatMap { case c @ ('_' | '%') => esc + c; case c => c.toString }
  }

  private def tableExists(c: java.sql.Connection, table: String): Boolean = {
    val md = c.getMetaData
    // getTables arguments are LIKE patterns: every `_` in our
    // underscore-heavy names is a single-char wildcard unless escaped,
    // and a false-positive match here would send COUNT(*) at a
    // nonexistent table — the exact masquerade this probe exists to end
    def probe(s: String, t: String): Boolean = {
      val rs = md.getTables(null, likeQuoted(md, s), likeQuoted(md, t), null)
      try rs.next() finally rs.close()
    }
    probe(schema, table) ||
      probe(schema.toUpperCase, table.toUpperCase) ||
      probe(schema.toLowerCase, table.toLowerCase)
  }

  /** COUNT(*) on the target; 0 only if the table does not exist yet (the
    * writer creates it on first append). Existence is probed via
    * DatabaseMetaData rather than by swallowing SQLException around the
    * COUNT — a transient failure (connection drop, lock timeout) must
    * propagate to the per-path error handler, not masquerade as an empty
    * table and make a committed load report 0 (or negative, for append)
    * rows. Identifier case: unquoted DDL is case-folded per dialect
    * (Derby/PG fold opposite directions), so the probe tries the exact,
    * upper- and lower-cased forms. */
  private def tableCount(table: String): Long = withConnection { c =>
    if (!tableExists(c, table)) 0L
    else {
      val rs = c.createStatement().executeQuery(
        s"SELECT COUNT(*) FROM ${qualified(table)}")
      rs.next()
      rs.getLong(1)
    }
  }

  override def table(spark: SparkSession, name: String): DataFrame =
    spark.read.jdbc(url, qualified(name), props)

  override def runSqlScript(spark: SparkSession, path: String): Unit = {
    val sql = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    withConnection { c =>
      statements(sql).foreach(c.createStatement().execute(_))
    }
  }
}
