package graft

import org.apache.spark.sql.functions._

/** Per-phase lifecycle probe (VERDICT r19 #3/#4): the full-suite Bench
  * times each declared query END-TO-END, which for the IVM lifecycles
  * bills fixture construction (snapshot diffs, staged micro-batch
  * files) to the same number as the claim under test (feed-sized
  * maintenance, collapsed bootstrap). This main times the phases
  * SEPARATELY so the scale table can say which phase scales how:
  *
  *  - `e122` — the streaming join-MV lifecycle
  *    ([[graft.ext.ExtQueries.streamingJoinMvLifecycle]]): `fixture`
  *    (dim write + feed derive + staging), `bootstrap` (v0 partials via
  *    [[graft.etl.Incremental.bootstrapJoinPartials]]), `maintain_b0..2`
  *    (each streamed feed fold — the steady-state claim), `serve` (the
  *    rewrite-served dashboard materialized to noop).
  *  - `e120_bootstrap` — the one-time join-MV derive at the e120 star
  *    shape: `dim_fixture` (write the customer-derived dim) and
  *    `bootstrap` ([[graft.etl.Incremental.bootstrapJoinPartials]] over
  *    the RAW fact — the recipe whose exchange carries one row per
  *    distinct key, never raw fact rows, so it holds its shape across
  *    the broadcast boundary the r19 sf100 anchor exposed).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.PhaseBench e122"
  * (reps via SPARK_GRAFT_REPS, default 2; reported per-phase MIN).
  * Prints one JSON line: {"metric":"phase_bench","lifecycle":...,
  * "sf":...,"phases":{...},"reps":N}.
  */
object PhaseBench {
  def main(args: Array[String]): Unit = {
    val lifecycle = args.headOption.getOrElse("e122")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption).getOrElse(2).max(1)
    val spark = graft.etl.Sessions.session()

    // per-phase min over reps: the load-insensitive reading, same
    // discipline as Bench's queries_min
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def record(name: String, sec: Double): Unit = best.synchronized {
      best(name) = best.get(name).fold(sec)(math.min(_, sec))
    }

    for (_ <- 1 to reps) {
      lifecycle match {
        case "e122" =>
          val served = graft.ext.ExtQueries.streamingJoinMvLifecycle(
            spark, sfDir, record)
          // distinct key (ADVICE r20): the lifecycle itself records
          // "serve" (the rewritten-plan execution inside servePinned);
          // this times the noop write of the checkpointed rows — merging
          // both under one min-keeping key under-reported the serve
          val t0 = System.nanoTime()
          served.write.format("noop").mode("overwrite").save()
          record("serve_write", (System.nanoTime() - t0) / 1e9)
        case "e120_bootstrap" =>
          import graft.etl.Incremental
          val fact = spark.read.parquet(s"$sfDir/orders.parquet")
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          val dimPath = graft.ext.ExtQueries.tempQueryDir("graft_pb_dim")
          val t0 = System.nanoTime()
          Tables.customer(spark, sfDir).select(
            col("c_custkey").as("o_custkey"),
            col("c_nationkey").cast("long").as("c_nationkey"))
            .write.mode("overwrite").parquet(dimPath)
          record("dim_fixture", (System.nanoTime() - t0) / 1e9)
          val dim = spark.read.parquet(dimPath)
          val outDir = graft.ext.ExtQueries.tempQueryDir("graft_pb_mv")
          val t1 = System.nanoTime()
          Incremental.bootstrapJoinPartials(
              fact, dim, Seq("o_custkey"), Seq("c_nationkey"), "o_totalprice")
            .write.mode("overwrite").parquet(outDir)
          record("bootstrap", (System.nanoTime() - t1) / 1e9)
        case "e53_dedup" =>
          // the e52/e53 maintenance loop, phase-split (VERDICT r20 #6):
          // build over 3/5, append 1/5, compact in place, vacuum, then
          // the claim under test — the batch-sized verdict derivation
          import graft.ext.Dedup
          val docs = Tables.documents(spark, sfDir)
          val dir = graft.ext.ExtQueries.tempQueryDir("graft_pb_e53")
          def phase(name: String)(body: => Unit): Unit = {
            val t0 = System.nanoTime()
            body
            record(name, (System.nanoTime() - t0) / 1e9)
          }
          phase("build")(Dedup.buildDedupIndex(
            docs.filter(col("doc_id") % 5 =!= 4 && col("doc_id") % 5 =!= 3),
            "doc_id", "text", dir, k = 32, bands = 8))
          phase("append")(Dedup.appendToDedupIndex(
            docs.filter(col("doc_id") % 5 === 3), "doc_id", "text", dir))
          phase("compact")(Dedup.compactDedupIndex(spark, dir))
          phase("vacuum") { Dedup.vacuumDedupIndex(spark, dir); () }
          phase("dedup_batch") {
            val idx = Dedup.loadDedupIndex(spark, dir)
            Dedup.incrementalDedup(docs.filter(col("doc_id") % 5 === 4),
              "doc_id", "text", idx, minEstSim = 0.4)
              .write.format("noop").mode("overwrite").save()
          }
        case "e106_ann" =>
          // the ANN forget lifecycle, phase-split: corpus-sized build,
          // O(|ids|) forget, the fold (now cell-pruned), vacuum, serve
          import graft.ext.Similarity
          val embs = Tables.embeddings(spark, sfDir)
          val dir = graft.ext.ExtQueries.tempQueryDir("graft_pb_e106")
          def phase(name: String)(body: => Unit): Unit = {
            val t0 = System.nanoTime()
            body
            record(name, (System.nanoTime() - t0) / 1e9)
          }
          phase("build")(Similarity.buildIndex(embs, dir,
            nlist = 64, m = 16, ksub = 64, pqIters = 2))
          phase("forget")(Similarity.forgetFromIndex(spark, dir,
            embs.filter(pmod(col("vec_id"), lit(97)) === 3).select(col("vec_id"))))
          phase("compact")(Similarity.compactIndex(spark, dir))
          phase("vacuum") { Similarity.vacuumIndex(spark, dir); () }
          phase("serve") {
            Similarity.queryIndex(Similarity.loadIndex(spark, dir),
              embs.filter(col("vec_id") < 10), k = 5, nprobe = 8)
              .write.format("noop").mode("overwrite").save()
          }
        case other =>
          System.err.println(s"[phasebench] unknown lifecycle '$other' " +
            "(expected: e122 | e120_bootstrap | e53_dedup | e106_ann)")
          sys.exit(2)
      }
      spark.catalog.clearCache()
    }
    val phases = best.map { case (n, v) => "\"" + n + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = best.values.sum
    println(s"""{"metric":"phase_bench","lifecycle":"$lifecycle","sf":"$sfDir",""" +
      s""""unit":"sec","value":${f"$total%.3f"},"phases":$phases,"reps":$reps}""")
    spark.stop()
  }
}
