package graft.etl

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession.Builder` is made ([[builder]]), plus
  * the helpers callers layer on it. Tests, runner mains and the CLI all
  * start from the same conf, so a Spark SQL setting measured or
  * verified by one of them is the setting the others run.
  *
  * [[durableCatalog]] backs a builder with a catalog that SURVIVES
  * restarts. The reference's serving contract is durable: its `costs`
  * view lives in PostgreSQL (reference sql/init.sql:31-56,
  * src/main.py:124-132) and is there after every restart. Spark's
  * default in-memory catalog loses view DDL with the session, so
  * [[CostsView.createDurable]] was only as durable as the process. Backing the session with a persistent
  * metastore (embedded Derby under `dir/metastore_db` — the in-sandbox
  * stand-in for a shared Hive metastore / Glue catalog on a real
  * cluster) makes the DDL genuinely durable: a NEW session pointed at
  * the same directory resolves `costs` and serves D1 with no re-sync.
  */
object Sessions {

  /** Cores the session is sized for: `SPARK_GRAFT_CPUS`, else the JVM's
    * available processors. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `SPARK_GRAFT_MASTER`, else `local[cpus]`. A `local-cluster[...]`
    * master runs the same code across real executor JVMs (task and
    * broadcast serialization, checkpoint block placement, persisted-index
    * partition reads). */
  private val master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** Input split size, a deployment setting: `SPARK_GRAFT_MAX_PARTITION_BYTES`,
    * else 16m. */
  val maxPartitionBytes: String =
    sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")

  /** The engine's session conf. Callers add only what is theirs (the
    * CLI's s3a and metastore settings, the test warehouse dir) before
    * `getOrCreate`. */
  def builder(): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // split text-expanding parquet at 16 MB: documents.parquet
      // compresses ~3:1 and the default 128 MB split put the ENTIRE sf10
      // corpus in ONE scan task — e16's per-char regex then ran
      // single-core and its orderBy's range sampling paid the scan twice
      // (19x at 10x rows). 16 MB splits parallelize to row-group
      // granularity; files under 16 MB (every sf0.1 table) are
      // unaffected. A real cluster with many files may want the 128m
      // default back, hence the env override.
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      // partitioned index/code layouts use up to nlist=64 `cid=` dirs; the
      // default parallelPartitionDiscovery threshold (32) turns every such
      // listing into a 64-task Spark JOB. 128 keeps those listings on the
      // driver's own listing pool — ~ms on any FS at that dir count
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      // let AQE size cached-plan partitions from the DATA: the default
      // pins every persisted stage at the static shuffle count, so each
      // cache consumer pays that many near-empty tasks on a KB-scale
      // cached stage. `true` is scale-adaptive by construction: AQE only
      // coalesces when partitions are small, a 100 TB cached stage
      // keeps its width.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); Tables.events converts
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the native graft_* expressions, in every session of the context
      // (newSession and rebuilt sessions included) — the only wiring path
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
    // local-cluster executors are SEPARATE JVMs launched by the embedded
    // workers — they need this build's classes (and the Spark jars) on
    // their classpath explicitly; a plain local[] master ignores this
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", sys.props.getOrElse("java.class.path", ""))
    b
  }

  /** [[builder]]'s session as the runner mains use it, logging at WARN. */
  def session(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply persistent-metastore settings to a builder. Must run before
    * `getOrCreate` — catalog implementation and metastore URL are static
    * confs fixed at SharedState creation. */
  def durableCatalog(b: SparkSession.Builder, dir: String): SparkSession.Builder =
    b.config("spark.sql.catalogImplementation", "hive")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      // embedded Derby: one metastore per directory; `create=true` boots
      // the schema on first use (the reference's init.sql role)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
      .config("datanucleus.schema.autoCreateAll", "true")
      .config("spark.hadoop.hive.metastore.schema.verification", "false")

  /** Apply [[EngineConfig.s3aHadoopConf]] to a LIVE session's Hadoop
    * configuration (O26 / reference aws_cur.py:44-54: credentials,
    * region, endpoint, path-style). Hadoop fs confs are read at
    * FileSystem instantiation, not session build, so setting them on a
    * running session works — library callers that receive a session
    * (rather than building one through [[graft.Main]]) use this.
    * Deliberately does NOT touch `fs.s3a.impl`: the implementation
    * binding belongs to the deployment's jars, and the offline contract
    * test binds it to a local-backed stub. */
  def applyS3a(s: SparkSession, cfg: EngineConfig): SparkSession = {
    cfg.s3aHadoopConf.foreach { case (k, v) =>
      s.sparkContext.hadoopConfiguration.set(k, v)
    }
    s
  }
}
