package graft.etl

import graft.SparkSpec
import java.nio.file.Files

/** O17-O20: writer semantics (reference postgresql.py:38-160) on both
  * sinks — ParquetLoader, and JdbcLoader against in-memory Derby (the
  * embedded DB shipped with Spark's jars). */
class LoaderSpec extends SparkSpec {

  private def df2 = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "Resource.Tags/env")
  }

  test("ParquetLoader: replace overwrites, append accumulates, columns cleaned") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    assert(ld.load(df2, "t", "replace") == 2L)
    assert(ld.load(df2, "t", "append") == 2L) // returns rows loaded
    assert(ld.table(spark, "t").count() == 4L) // append accumulated
    assert(ld.load(df2, "t", "replace") == 2L)
    val back = ld.table(spark, "t")
    assert(back.count() == 2L) // replace dropped previous contents
    assert(back.columns.toSet == Set("id", "resource_tags_env"))
  }

  test("ParquetLoader: clustered write refuses map-typed columns (salt replay-safety)") {
    // withRowSalt's canonicalization sort skips unorderable (map) columns,
    // so rows differing only there could swap salts on a fetch-failure
    // recompute — a duplicate/lose hazard for the (keys, salt) write
    // shuffle. The guard turns the documented edge into a loud error.
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    val withMap = Seq((1L, "2024-01-01", Map("k" -> "v")))
      .toDF("id", "date", "tags")
    val e = intercept[IllegalArgumentException] {
      ld.loadClustered(withMap, "t_map", "replace", Seq("date"), clusterSalt = 2)
    }
    assert(e.getMessage.contains("orderable"), e.getMessage)
    // unsalted path still accepts maps (no salt, no replay hazard)
    assert(ld.loadClustered(withMap, "t_map", "replace", Seq("date"),
      clusterSalt = 1) == 1L)
  }

  test("ParquetLoader: empty input short-circuits without touching target") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    ld.load(df2, "t", "replace")
    assert(ld.load(df2.limit(0), "t", "replace") == 0L)
    assert(ld.table(spark, "t").count() == 2L) // unchanged
  }

  test("ParquetLoader: compact merges small files, preserves data and partitioning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    // fragment a flat table: 8 appends of 4-partition writes
    val rows = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(4)
    (1 to 8).foreach(_ => ld.load(rows, "flat", "append"))
    val before = ld.table(spark, "flat").inputFiles.length
    assert(before >= 8, s"fixture should be fragmented, got $before files")
    val (b, a) = ld.compact(spark, "flat")
    assert(b == before && a < before && a >= 1, s"$b -> $a")
    assert(ld.table(spark, "flat").count() == 400L)
    assert(ld.table(spark, "flat").agg(sum(col("id"))).collect().head.getLong(0)
      == 8L * (1 to 50).sum)

    // partitioned table: fragmented per-date files collapse to one per date
    val parts = (1 to 40).map(i => (i.toLong, s"2024-01-${i % 4 + 1}")).toDF("id", "date")
      .withColumn("date", col("date").cast("date"))
    (1 to 5).foreach(_ => ld.load(parts.repartition(4), "bydate", "append",
      partitionBy = Seq("date")))
    val beforeP = ld.table(spark, "bydate").inputFiles.length
    val (bp, ap) = ld.compact(spark, "bydate")
    assert(bp == beforeP && ap == 4, s"one file per date expected: $bp -> $ap")
    assert(ld.table(spark, "bydate").count() == 200L)
    // pruning still works on the compacted layout
    val pruned = ld.table(spark, "bydate")
      .filter(col("date") === lit("2024-01-02").cast("date"))
    assert(pruned.count() == 50L)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("ParquetLoader: compact preserves zero-padded partition directory names") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    // string-typed, zero-padded partition values: type inference on the
    // compact read would rewrite month=01 as month=1
    val rows = Seq((1L, "01"), (2L, "01"), (3L, "10")).toDF("id", "month")
    (1 to 3).foreach(_ => ld.load(rows, "padded", "append", partitionBy = Seq("month")))
    ld.compact(spark, "padded")
    val dirs = new java.io.File(s"$wh/s/padded__v00001").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("month=01", "month=10"), dirs.mkString(","))
    assert(ld.table(spark, "padded").count() == 9)
  }

  test("ParquetLoader: compact repairs an interrupted swap before running") {
    // the swap is the first generation flip of a never-compacted table:
    // write <t>__v00001, PUT the manifest, re-point views, delete <t>
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    ld.load(df2, "r", "replace")
    val tdir = new java.io.File(s"$wh/s/r")
    val gen1 = new java.io.File(s"$wh/s/r__v00001")
    val conf = spark.sessionState.newHadoopConf()
    val base = new org.apache.hadoop.fs.Path(tdir.getPath)
    val fs = base.getFileSystem(conf)
    val gen1Path = new org.apache.hadoop.fs.Path(gen1.getPath)
    // crash before the PUT: a dead write, no manifest; reads stay on <t>
    assert(gen1.mkdirs())
    Files.write(gen1.toPath.resolve("part-dead.parquet"), "junk".getBytes)
    assert(ld.table(spark, "r").count() == 2L, "dead write must be invisible")
    ld.compact(spark, "r")
    assert(ld.table(spark, "r").count() == 2L, "dead write must not leak rows")
    assert(gen1.isDirectory && !tdir.exists)
    assert(!new java.io.File(gen1, "part-dead.parquet").exists)
    // crash between the PUT and the view re-point: the manifest names the
    // new generation while <t> and a view over <t> remain
    assert(fs.delete(gen1Path, true))
    assert(new java.io.File(s"$wh/s/r__manifest").delete())
    ld.load(df2, "r", "replace")
    spark.sql(s"CREATE OR REPLACE VIEW r_swap_v AS SELECT * FROM ${ld.sqlRef("r").get}")
    try {
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, base, fs, gen1Path, false, conf))
      ManifestCommit.record.write(fs, base, 1)
      val files = ld.table(spark, "r").inputFiles
      assert(files.nonEmpty && files.forall(_.contains("r__v00001")), files.mkString(", "))
      ld.compact(spark, "r") // -> generation 2, <t> and generation 1 gone
      assert(!tdir.exists && !gen1.exists && new java.io.File(s"$wh/s/r__v00002").isDirectory)
      assert(ld.table(spark, "r").count() == 2L)
      assert(spark.table("r_swap_v").count() == 2L, "the view must follow the flip")
    } finally spark.sql("DROP VIEW IF EXISTS r_swap_v")
  }

  test("ParquetLoader: compact refuses leftovers of the old two-rename swap and deletes nothing") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    ld.load(df2, "r", "replace")
    val tdir = new java.io.File(s"$wh/s/r")
    def listing = new java.io.File(s"$wh/s").list().sorted.toSeq
    // a crash of the old swap left either dir behind; which one holds the
    // only copy of some rows depends on where it hit, so compact names the
    // dir and the manual fix instead of guessing
    for (leftover <- Seq("r__old", "r__compact")) {
      val left = new java.io.File(s"$wh/s/$leftover")
      assert(left.mkdirs())
      Files.write(left.toPath.resolve("part-0.parquet"), "rows".getBytes)
      val before = listing
      val err = intercept[RuntimeException] { ld.compact(spark, "r") }
      assert(err.getMessage.contains(left.getPath), err.getMessage)
      assert(err.getMessage.contains("rename") && err.getMessage.contains("dead staging dir"),
        err.getMessage)
      assert(listing == before && left.listFiles().length == 1 && tdir.isDirectory,
        "nothing may be deleted or moved")
      // the operator's fix (here: the dir is dead) lets compact run again
      Option(left.listFiles()).foreach(_.foreach(_.delete()))
      assert(left.delete())
    }
    ld.compact(spark, "r")
    assert(ld.table(spark, "r").count() == 2)
  }

  test("ParquetLoader: manifest compact flips generations; reads/appends/views follow") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh_m").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    val rows = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(4)
    (1 to 4).foreach(_ => ld.load(rows, "m", "append"))
    val (b, a) = ld.compact(spark, "m")
    assert(b > a && a >= 1, s"$b -> $a")
    // base dir retired, generation 1 live, manifest committed
    assert(!new java.io.File(s"$wh/s/m").exists)
    assert(new java.io.File(s"$wh/s/m__v00001").isDirectory)
    assert(new java.io.File(s"$wh/s/m__manifest").isFile)
    val back = ld.table(spark, "m")
    assert(back.count() == 200L)
    assert(back.agg(sum(col("id"))).collect().head.getLong(0) == 4L * (1 to 50).sum)
    assert(back.inputFiles.forall(_.contains("m__v00001")), "reads must resolve via manifest")
    // appends land in the LIVE generation, not the retired base dir
    ld.load(rows, "m", "append")
    assert(ld.table(spark, "m").count() == 250L)
    assert(!new java.io.File(s"$wh/s/m").exists, "append must not resurrect the base dir")
    // second compact: generation 2, generation 1 retired
    ld.compact(spark, "m")
    assert(new java.io.File(s"$wh/s/m__v00002").isDirectory)
    assert(!new java.io.File(s"$wh/s/m__v00001").exists)
    assert(ld.table(spark, "m").count() == 250L)
    // a view created after the flip names the live generation
    assert(ld.sqlRef("m").get.contains("m__v00002"), ld.sqlRef("m").get)
  }

  test("ParquetLoader: manifest compact repairs every crash window on entry") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh_mc").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    ld.load(df2, "m", "replace")
    ld.compact(spark, "m") // baseline: generation 1 live
    def gen(n: Int) = new java.io.File(f"$wh/s/m__v$n%05d")
    assert(gen(1).isDirectory)

    // window A — crash BEFORE the flip: a dead-write generation dir
    // exists but the manifest never pointed at it. Repair discards it;
    // the compact then produces its own generation 2.
    assert(gen(2).mkdirs())
    Files.write(gen(2).toPath.resolve("part-dead.parquet"), "junk".getBytes)
    ld.compact(spark, "m")
    assert(ld.table(spark, "m").count() == 2L, "dead write must not leak rows")
    assert(gen(2).isDirectory && !gen(1).exists)

    // window B — crash AFTER the flip, cleanup lost: a stale OLD
    // generation remains. Readers never see it (resolution is
    // manifest-driven); the next compact finishes the cleanup.
    assert(gen(1).mkdirs())
    Files.write(gen(1).toPath.resolve("part-stale.parquet"), "junk".getBytes)
    assert(ld.table(spark, "m").count() == 2L, "stale generation must be invisible")
    ld.compact(spark, "m") // → generation 3
    assert(!gen(1).exists && gen(3).isDirectory)

    // window C — FIRST flip's lost cleanup: the pre-manifest base dir
    // remains. Same repair: invisible to readers, deleted on entry.
    val base = new java.io.File(s"$wh/s/m")
    assert(base.mkdirs())
    Files.write(base.toPath.resolve("part-pre.parquet"), "junk".getBytes)
    assert(ld.table(spark, "m").count() == 2L)
    ld.compact(spark, "m")
    assert(!base.exists)

    // window D — manifest names a generation that is GONE (out-of-band
    // deletion, not a crash window this protocol produces): loud error,
    // nothing guessed
    val live = gen(4)
    assert(live.isDirectory)
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
    }
    rmTree(live)
    val err = intercept[RuntimeException] { ld.compact(spark, "m") }
    assert(err.getMessage.contains("out-of-band"), err.getMessage)
  }

  test("ParquetLoader: compact survives a crash before every mutating filesystem call") {
    import spark.implicits._
    import org.apache.hadoop.fs.{Path => HPath}
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfs.impl", classOf[GraftFileSystem].getName)
    // a fragmented flat table, written once and copied per crash point
    val template = Files.createTempDirectory("graft_wh_walk")
    val tl = new ParquetLoader(s"graftfs://$template", "s")
    tl.ensureNamespace()
    val rows = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    (1 to 2).foreach(_ => tl.load(rows.repartition(2), "t", "append"))
    val expected = (1 to 40).flatMap(i => Seq.fill(2)((i.toLong, s"v$i"))).sorted
    def fresh(): (java.nio.file.Path, ParquetLoader) = {
      val wh = Files.createTempDirectory("graft_wh_walk")
      val tree = Files.walk(template)
      try tree.forEach { p =>
        val to = wh.resolve(template.relativize(p))
        if (!Files.exists(to)) Files.copy(p, to)
      } finally tree.close()
      (wh, new ParquetLoader(s"graftfs://$wh", "s"))
    }
    def read(ld: ParquetLoader) = ld.table(spark, "t").as[(Long, String)].collect().sorted.toSeq
    def compactWith(ld: ParquetLoader, failAt: Long): Unit = {
      GraftFileSystem.arm(failAt)
      try { ld.compact(spark, "t"); () } finally GraftFileSystem.disarm()
    }
    // a clean compaction fixes the range of crash points
    val calls = {
      val (_, ld) = fresh()
      compactWith(ld, Long.MaxValue)
      GraftFileSystem.calls.get
    }
    assert(calls > 0)
    info(s"$calls crash points")
    for (n <- 1L to calls) {
      val (wh, ld) = fresh()
      intercept[Exception](compactWith(ld, n))
      assert(read(ld) == expected, s"crash before call $n of $calls: reader sees a torn table")
      compactWith(ld, Long.MaxValue)
      assert(read(ld) == expected, s"crash before call $n of $calls: recompaction lost rows")
      val base = new HPath(s"graftfs://$wh/s/t")
      val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
      val live = ManifestCommit.resolve(fs, base)
      assert(ManifestCommit.record.dirs(fs, base).map(_._2.getName) == Seq(live.getName),
        s"crash before call $n of $calls: a generation besides the live $live survived")
      assert(!fs.exists(base), s"crash before call $n of $calls: the base dir survived")
    }
  }

  test("ParquetLoader: upsert_partitions targets the manifest-committed generation") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh_mu").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    val jan = Seq((1L, 10.0, "2024-01"), (2L, 20.0, "2024-01")).toDF("id", "v", "month")
    val feb = Seq((3L, 30.0, "2024-02")).toDF("id", "v", "month")
    ld.load(jan, "mu", "upsert_partitions", partitionBy = Seq("month"))
    ld.compact(spark, "mu") // -> generation 1 (manifest mode)
    assert(new java.io.File(s"$wh/s/mu__manifest").isFile)
    // dynamic partition overwrite AFTER the flip: February accumulates
    // in the LIVE generation; re-issued January replaces only January
    ld.load(feb, "mu", "upsert_partitions", partitionBy = Seq("month"))
    val jan2 = Seq((9L, 90.0, "2024-01")).toDF("id", "v", "month")
    ld.load(jan2, "mu", "upsert_partitions", partitionBy = Seq("month"))
    val ids = ld.table(spark, "mu").select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(3L, 9L), ids.toString)
    assert(!new java.io.File(s"$wh/s/mu").exists,
      "dynamic overwrite must not resurrect the retired base dir")
    // the migrate guard's layout walk also resolves via the manifest:
    // a same-columns incremental write stays partition-scoped (no
    // spurious full rewrite)
    assert(ld.table(spark, "mu").count() == 2L)
    // ...and a second compact rolls the generation with the data intact
    ld.compact(spark, "mu")
    assert(ld.table(spark, "mu").select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(3L, 9L))
  }

  test("ParquetLoader: upsert_partitions rewrites only the incoming partition values") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    val jan = Seq((1L, 10.0, "2024-01"), (2L, 20.0, "2024-01")).toDF("id", "v", "month")
    val feb = Seq((3L, 30.0, "2024-02")).toDF("id", "v", "month")
    assert(ld.load(jan, "inc", "upsert_partitions", partitionBy = Seq("month")) == 2L)
    assert(ld.load(feb, "inc", "upsert_partitions", partitionBy = Seq("month")) == 1L)
    // both months present: February did not wipe January
    assert(ld.table(spark, "inc").count() == 3L)
    // re-issuing January with different rows replaces ONLY January
    val jan2 = Seq((9L, 90.0, "2024-01")).toDF("id", "v", "month")
    assert(ld.load(jan2, "inc", "upsert_partitions", partitionBy = Seq("month")) == 1L)
    val rows = ld.table(spark, "inc").select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(3L, 9L), rows.toString)
    // switching a replace-mode (unpartitioned) table to incremental must
    // NOT interleave layouts: the first incremental write fully rewrites
    // the dir partitioned (old root-level files gone, data readable)
    assert(ld.load(jan.drop("month").withColumn("month",
      org.apache.spark.sql.functions.lit("2024-03")), "flatfirst", "replace") == 2L)
    assert(ld.load(feb, "flatfirst", "upsert_partitions", partitionBy = Seq("month")) == 1L)
    val flat = new java.io.File(s"$wh/s/flatfirst")
    assert(!flat.listFiles().exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "root-level files must not survive the migration")
    assert(ld.table(spark, "flatfirst").count() == 1L) // migrated = current window only
    // and the NEXT incremental write is partition-scoped again
    assert(ld.load(jan, "flatfirst", "upsert_partitions", partitionBy = Seq("month")) == 2L)
    assert(ld.table(spark, "flatfirst").count() == 3L)
    // a table partitioned by DIFFERENT columns (layout change, e.g.
    // partitionBy(day) -> partitionBy(month)) has no root-level files, so
    // it must be caught by the key-name comparison: one-time full rewrite,
    // never two interleaved layouts
    assert(ld.load(jan.withColumnRenamed("month", "day"),
      "relayout", "upsert_partitions", partitionBy = Seq("day")) == 2L)
    assert(ld.load(feb, "relayout", "upsert_partitions", partitionBy = Seq("month")) == 1L)
    val relayoutDirs = new java.io.File(s"$wh/s/relayout").listFiles()
      .filter(_.isDirectory).map(_.getName.takeWhile(_ != '=')).distinct.toSeq
    assert(relayoutDirs == Seq("month"), s"old layout must not survive: $relayoutDirs")
    assert(ld.table(spark, "relayout").count() == 1L) // rewrite = current window only
    // the mode requires a partitioned layout, and JDBC sinks reject it
    intercept[IllegalArgumentException] { ld.load(jan, "inc2", "upsert_partitions") }
    val jd = new JdbcLoader(s"jdbc:derby:memory:graftinc${System.nanoTime()};create=true",
      "", "", "APP")
    intercept[IllegalArgumentException] {
      jd.load(jan, "inc", "upsert_partitions", partitionBy = Seq("month"))
    }
  }

  test("ParquetLoader: readBack merges schemas across drifted files") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    ld.ensureNamespace()
    // two appends with drifted columns — an incremental raw table's
    // shape as CUR schemas evolve month over month
    assert(ld.load(Seq((1L, "a")).toDF("id", "old_col"), "drift", "append") == 1L)
    assert(ld.load(Seq((2L, 7.5)).toDF("id", "new_col"), "drift", "append") == 1L)
    val back = ld.readBack(spark, "drift").get
    assert(back.columns.toSet == Set("id", "old_col", "new_col"),
      s"readBack must merge drifted schemas, got ${back.columns.mkString(",")}")
    assert(back.count() == 2L)
  }

  test("ParquetLoader: fail mode errors when the table exists") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    ld.load(df2, "t", "replace")
    intercept[Exception] { ld.load(df2, "t", "fail") }
  }

  test("ParquetLoader: SQL script runner executes statements in order") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val ld = new ParquetLoader(wh, "s")
    val script = Files.createTempFile("graft", ".sql")
    Files.writeString(script,
      """CREATE OR REPLACE TEMP VIEW loader_script_v AS SELECT 1 AS one;
        |CREATE OR REPLACE TEMP VIEW loader_script_w AS SELECT one + 1 AS two FROM loader_script_v;
        |""".stripMargin)
    ld.runSqlScript(spark, script.toString)
    assert(spark.table("loader_script_w").collect().head.getInt(0) == 2)
  }

  test("JdbcLoader (Derby): namespace, replace/append, read-back, script") {
    val url = s"jdbc:derby:memory:graftdb${System.nanoTime()};create=true"
    val ld = new JdbcLoader(url, "", "", "APP")
    ld.ensureNamespace() // APP exists in Derby; must tolerate
    assert(ld.load(df2, "jt", "replace") == 2L)
    assert(ld.load(df2, "jt", "append") == 2L)
    assert(ld.table(spark, "jt").count() == 4L)
    assert(ld.load(df2, "jt", "replace") == 2L)
    val back = ld.table(spark, "jt")
    assert(back.count() == 2L)
    assert(back.columns.map(_.toLowerCase).toSet == Set("id", "resource_tags_env"))
    val script = Files.createTempFile("graft", ".sql")
    Files.writeString(script,
      "CREATE TABLE APP.script_t (x INT); INSERT INTO APP.script_t VALUES (7)")
    ld.runSqlScript(spark, script.toString)
    assert(ld.table(spark, "script_t").count() == 1L)
  }

  test("JdbcLoader (Derby): overwrite with a database-side dependent view") {
    import spark.implicits._
    val url = s"jdbc:derby:memory:graftdepview${System.nanoTime()};create=true"
    val ld = new JdbcLoader(url, "", "", "APP")
    def exec(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try { c.createStatement().execute(sql); () } finally c.close()
    }
    assert(ld.load(df2, "vt", "replace") == 2L)
    // database-side view over the loaded table — the reference's
    // persistent `costs` view shape (postgresql.py:77-79 drops it
    // CASCADE on every re-sync; PG would refuse Spark's plain DROP)
    exec("CREATE VIEW APP.vt_costs AS SELECT \"id\" FROM APP.vt")
    // same-schema overwrite takes the TRUNCATE path: reload succeeds and
    // the dependent view survives, serving the refreshed rows
    assert(ld.load(df2, "vt", "replace") == 2L)
    assert(ld.table(spark, "vt_costs").count() == 2L)
    // schema-CHANGING overwrite must recreate the table; Derby has no
    // DROP TABLE CASCADE, so the dependency surfaces as a clear error
    // (on PostgreSQL the CASCADE attempt drops the view, as the
    // reference does)
    val df3 = Seq((1L, "a", 1.0)).toDF("id", "name", "score")
    val err = intercept[IllegalStateException] { ld.load(df3, "vt", "replace") }
    assert(err.getMessage.contains("dependent view"))
    assert(ld.table(spark, "vt").count() == 2L) // target untouched by the failure
    // a TYPE-only change (same column names) is also a schema change:
    // the truncate path must NOT engage (it would destroy the rows and
    // then fail the insert) — same clear error as the renamed case
    val retyped = Seq(("one", "a")).toDF("id", "Resource.Tags/env")
    val err2 = intercept[IllegalStateException] { ld.load(retyped, "vt", "replace") }
    assert(err2.getMessage.contains("dependent view"))
    assert(ld.table(spark, "vt").count() == 2L) // rows survived (no truncate)
    // with the view gone the schema change goes through as drop+recreate
    exec("DROP VIEW APP.vt_costs")
    assert(ld.load(df3, "vt", "replace") == 1L)
    assert(ld.table(spark, "vt").columns.map(_.toLowerCase).toSet ==
      Set("id", "name", "score"))
  }

  test("JdbcLoader (Derby): nullability tightening is a schema change, not a TRUNCATE") {
    import spark.implicits._
    val url = s"jdbc:derby:memory:graftnull${System.nanoTime()};create=true"
    val ld = new JdbcLoader(url, "", "", "APP")
    def exec(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try { c.createStatement().execute(sql); () } finally c.close()
    }
    // first load: product-encoder Long is non-nullable -> id BIGINT NOT NULL
    assert(ld.load(df2, "nt", "replace") == 2L)
    exec("CREATE VIEW APP.nt_v AS SELECT \"id\" FROM APP.nt")
    // an incoming NULLABLE id over the existing NOT NULL column: same
    // names, same types — but TRUNCATE would destroy the rows and the
    // insert would then fail on the constraint. Must take the
    // drop-and-recreate path (which Derby's dependent view turns into
    // the clear error), leaving the rows untouched.
    val nullable = Seq((Option(1L), "a"), (Option(2L), "b"))
      .toDF("id", "Resource.Tags/env")
    assert(nullable.schema("id").nullable, "fixture must be nullable")
    val err = intercept[IllegalStateException] { ld.load(nullable, "nt", "replace") }
    assert(err.getMessage.contains("dependent view"))
    assert(ld.table(spark, "nt").count() == 2L) // rows survived (no truncate)
    // with the view gone, the tightening goes through as drop+recreate
    exec("DROP VIEW APP.nt_v")
    assert(ld.load(nullable, "nt", "replace") == 2L)
    // and the now-nullable target accepts the same frame via TRUNCATE
    // (loosened direction is always truncate-safe)
    assert(ld.load(df2, "nt", "replace") == 2L)
  }
}
