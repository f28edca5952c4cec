package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Behavioral parity with the reference's endpoints (SURVEY §5.2-5), with
  * the documented deviations D1-D5 asserted explicitly.
  */
class EngineSpec extends SparkSpec {

  private lazy val engine = {
    val e = new Engine(spark, tmpDir("graft-engine"))
    // the two README demo lines (refluxdb README.md:20,23) + extras
    val (ok, err) = e.ingestLines(Seq(
      "test,host=server,region=us-east1 value=0.80 1234567890000000000",
      "cpu_load,host=server,region=us-east1 value=0.64 1234567891000000000",
      "cpu_load,host=server,region=us-east1 value=0.70,idle=0.30 1234567952000000000",
      "not a valid line at all",
      "m f=notanumber 1")) // unquoted non-numeric → D5 parse error
    assert(ok == 4) // 2 + fan-out of 2 fields (R5) — errors excluded
    assert(err == 2)
    e
  }

  test("rejected lines are quarantined, not dropped") {
    val q = engine.quarantine().collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(q.length == 2)
    assert(q.exists(_._1 == "not a valid line at all"))
    assert(q.exists { case (l, e) =>
      l.startsWith("m f=") && e.contains("non-numeric") })
  }

  test("create-on-first-write + catalog listing (R7/R9)") {
    assert(engine.listSeries() == Seq("cpu_load", "test"))
    assert(engine.seriesExists("cpu_load")) // R10
    assert(!engine.seriesExists("nope"))
  }

  test("per-field fan-out duplicates tags (R5, handlers.rs:113-134)") {
    val rows = engine.table()
      .filter(col("series") === "cpu_load" && col("name") === "idle")
    assert(rows.count() == 1)
    assert(rows.select(col("tags")("host")).head().getString(0) == "server")
  }

  test("event time honored from line timestamp (D1, ns->us)") {
    val ts = engine.table().filter(col("series") === "test")
      .select(col("time")).head().getTimestamp(0)
    assert(ts.toInstant.toEpochMilli == 1234567890000L)
  }

  test("range slice inclusive both ends (R11/D2) + empty = empty (D4)") {
    val r = engine.range("cpu_load",
      "2009-02-13T23:31:31Z", "2009-02-13T23:32:32Z").toOption.get
    // 1234567891s and 1234567952s are both inside inclusive bounds
    assert(r.count() == 3)
    val empty = engine.range("cpu_load",
      "2030-01-01T00:00:00Z", "2030-01-02T00:00:00Z").toOption.get
    assert(empty.count() == 0) // empty, not error
    assert(engine.range("cpu_load", "garbage", "2030-01-01T00:00:00Z").isLeft)
  }

  test("query gate: parse-based, no false positives (Q-D fix)") {
    // the reference rejects this query because it contains 'CREATE' inside
    // 'created_at' (substring blocklist, persistence.rs:147-152); we run it
    assert(engine.query(
      "SELECT name, value FROM cpu_load WHERE created_at IS NOT NULL").isRight)
    // real writes are rejected by plan type, not substring
    assert(engine.query("DROP TABLE cpu_load").isLeft)
    assert(engine.query("CREATE TABLE x (a INT)").isLeft)
    assert(engine.query("INSERT INTO cpu_load VALUES (1)").isLeft)
  }

  test("the reference's reachable floor works verbatim (SURVEY §2.3)") {
    // SELECT * FROM <series> [WHERE pred] [ORDER BY ...] [LIMIT n OFFSET m]
    val rows = engine.query(
      "SELECT * FROM cpu_load WHERE tags['host'] = 'server' " +
        "ORDER BY time, name LIMIT 2 OFFSET 1").toOption.get.collect()
    assert(rows.length == 2)
    // full 6-column canonical schema (+ day partition) comes back
    val cols = rows.head.schema.fieldNames.toSet
    assert(Set("series", "id", "time", "created_at", "name", "value", "tags")
      .subsetOf(cols))
  }

  test("aggregates and cross-series joins are reachable (Q-E/Q-F lift)") {
    val agg = engine.query(
      "SELECT name, count(*) AS n, round(avg(value), 6) AS avg_value " +
        "FROM cpu_load GROUP BY name ORDER BY name").toOption.get
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("idle", 1L), ("value", 2L)))
    val join = engine.query(
      "SELECT count(*) AS n FROM cpu_load c JOIN test t ON c.tags['host'] = t.tags['host']")
      .toOption.get
    assert(join.head().getLong(0) == 3L)
  }

  test("micro-batch retry is idempotent (exactly-once ingest)") {
    val e = new Engine(spark, tmpDir("graft-idem"))
    val parsed = graft.ingest.IngestPipeline.parseLines(spark,
      { import spark.implicits._
        Seq("cpu,h=a v=1.0,w=2.0 1700000000000000000").toDF("value") })
    e.writeBatch(parsed, "s42")
    val n1 = e.table().count()
    e.writeBatch(parsed, "s42") // simulated retry of the same micro-batch
    assert(e.table().count() == n1) // overwrote itself, no double-append
    e.writeBatch(parsed, "s43") // a NEW batch does append
    assert(e.table().count() == 2 * n1)
  }

  test("per-series catalog stats") {
    val stats = engine.seriesStats().collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getSeq[String](4).toList)).toList
    assert(stats == List(
      ("cpu_load", 3L, List("idle", "value")),
      ("test", 1L, List("value"))))
  }

  test("string/bool field values ingest + query (README.md:50 TODO)") {
    val e = new Engine(spark, tmpDir("graft-typed"))
    val (ok, err) = e.ingestLines(Seq(
      "svc,host=a status=\"degraded\",up=true,load=0.7 1700000000000000000"))
    assert(ok == 3 && err == 0) // one row per typed field
    val rows = e.query(
      "SELECT name, value, value_str, value_bool FROM svc ORDER BY name")
      .toOption.get.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("load", "status", "up"))
    assert(rows(0).getDouble(1) == 0.7 && rows(0).isNullAt(2) && rows(0).isNullAt(3))
    assert(rows(1).isNullAt(1) && rows(1).getString(2) == "degraded")
    assert(rows(2).isNullAt(1) && rows(2).getBoolean(3))
  }

  test("views register lazily — only series the query references") {
    val e = new Engine(spark, tmpDir("graft-lazy"))
    e.ingestLines(Seq("lazyv_a v=1.0 1700000000000000000",
      "lazyv_b v=2.0 1700000000000000000"))
    val r = e.query("SELECT count(*) AS n FROM lazyv_a").toOption.get
    assert(r.head().getLong(0) == 1L)
    assert(spark.catalog.tableExists("lazyv_a"))
    // the unreferenced series never costs a catalog mutation
    assert(!spark.catalog.tableExists("lazyv_b"))
  }

  test("series list is one catalog pass per ingest, not per query") {
    val e = new Engine(spark, tmpDir("graft-cache"))
    e.ingestLines(Seq("cachev_a v=1.0 1700000000000000000"))
    assert(e.listSeries() == Seq("cachev_a"))
    // cached: the second call returns the SAME instance (no FS relisting)
    assert(e.listSeries() eq e.listSeries())
    e.ingestLines(Seq("cachev_b v=1.0 1700000000000000000"))
    assert(e.listSeries() == Seq("cachev_a", "cachev_b")) // write invalidates
  }

  test("dropSeries and applyRetention prune CQ rollup targets (the " +
      "merge emptied-slice discipline extended): a dropped series / " +
      "expired day stops answering cqTable, survivors keep answering") {
    val e = new Engine(spark, tmpDir("graft-cq-prune"))
    val d = 86400000000000L // one day in ns
    val base = 1700000000000000000L // 2023-11-14
    e.ingestLines(Seq(
      s"cqa v=1.0 $base", s"cqa v=2.0 ${base + 3 * d}",
      s"cqb v=3.0 $base", s"cqb v=4.0 ${base + 3 * d}"))
    e.registerCq("agg", "hour")
    assert(e.refreshCq("agg") == 4L)
    def slices = e.cqTable("agg")
      .select(col("series"), col("day").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(slices.size == 4)
    // a drop writes no new batch — without the prune, batch-driven
    // dirty discovery would never revisit these slices
    assert(e.dropSeries("cqa"))
    assert(!slices.exists(_._1 == "cqa"),
      s"dropped series still answering cqTable: $slices")
    assert(e.applyRetention("2023-11-17") == 1L) // cqb day-1 expires
    assert(slices == Set(("cqb", "2023-11-17")),
      s"expired day still answering cqTable: $slices")
  }

  test("/profile and /correlate serve from writeVersion-keyed caches " +
      "(round-14 VERDICT #7 — the /skew posture): repeat polls return " +
      "the SAME memoized instance, a write invalidates") {
    val e = new Engine(spark, tmpDir("graft-servecache"))
    val h = 3600000000000L
    val base = 1700000000000000000L
    e.ingestLines(Seq(
      s"pc_a v=1.0 $base", s"pc_a v=2.0 ${base + h}",
      s"pc_a v=4.0 ${base + 2 * h}",
      s"pc_b v=1.5 $base", s"pc_b v=2.5 ${base + h}",
      s"pc_b v=4.5 ${base + 2 * h}")) // 3 common hours → r defined
    val p1 = e.profileRows("pc_a")
    assert(p1.nonEmpty && (e.profileRows("pc_a") eq p1),
      "second /profile poll re-scanned instead of serving the cache")
    val c1 = e.correlate("pc_a", "v", None, None)
    assert(c1.nonEmpty && (e.correlate("pc_a", "v", None, None) eq c1),
      "second /correlate poll re-computed instead of serving the cache")
    // a write bumps the version: both serve FRESH results
    e.ingestLines(Seq(s"pc_a v=9.0 ${base + 3 * h}"))
    val p2 = e.profileRows("pc_a")
    assert(!(p2 eq p1), "/profile cache survived a write")
    assert(p2.head.getLong(1) == 4L, s"stale profile n: ${p2.head}")
    assert(!(e.correlate("pc_a", "v", None, None) eq c1),
      "/correlate cache survived a write")
  }

  test("owned views for vanished series are dropped, not served stale") {
    val e1 = new Engine(spark, tmpDir("graft-van1"))
    e1.ingestLines(Seq("vanish_x v=1.0 1700000000000000000"))
    assert(e1.query("SELECT * FROM vanish_x").isRight)
    assert(spark.catalog.tableExists("vanish_x"))
    val e2 = new Engine(spark, tmpDir("graft-van2")) // empty warehouse
    assert(e2.query("SELECT * FROM vanish_x").isLeft)
    assert(!spark.catalog.tableExists("vanish_x"))
  }

  test("results render as real JSON rows (Q-J fix)") {
    val js = engine.toJsonRows(engine.query(
      "SELECT name, value FROM test").toOption.get)
    assert(js == Seq("""{"name":"value","value":0.8}"""))
  }

  test("integer (42i) field values ingest + query via value_long") {
    val e = new Engine(spark, tmpDir("graft-int"))
    val (ok, err) = e.ingestLines(Seq(
      "meter,host=a cnt=42i,load=0.5 1700000000000000000"))
    assert(ok == 2 && err == 0)
    val rows = e.query(
      "SELECT name, value, value_long FROM meter ORDER BY name")
      .toOption.get.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("cnt", "load"))
    assert(rows(0).isNullAt(1) && rows(0).getLong(2) == 42L)
    assert(rows(1).getDouble(1) == 0.5 && rows(1).isNullAt(2))
  }

  test("series referenced only inside a subquery is registered (round-2 " +
      "ADVICE fix: collectWithSubqueries)") {
    val e = new Engine(spark, tmpDir("graft-subq"))
    e.ingestLines(Seq(
      "subq_outer v=1.0 1700000000000000000",
      "subq_outer v=5.0 1700000001000000000",
      "subq_inner v=2.0 1700000000000000000"))
    val r = e.query(
      "SELECT count(*) AS n FROM subq_outer " +
        "WHERE value > (SELECT avg(value) FROM subq_inner)")
    assert(r.isRight, s"subquery relation not registered: $r")
    assert(r.toOption.get.head().getLong(0) == 1L)
  }

  test("a second JVM's writer lease blocks writes until broken " +
      "(single-writer guard)") {
    val e = new Engine(spark, tmpDir("graft-lease"))
    e.ingestLines(Seq("leased v=1.0 1700000000000000000"))
    // simulate another driver: plant a foreign writer id in the lease file
    // (drop the local-FS checksum sidecar, or the direct overwrite below
    // would fail the read with a ChecksumException instead)
    val leaseFile = new java.io.File(s"${e.tablePath}.writer.lock")
    java.nio.file.Files.deleteIfExists(new java.io.File(
      leaseFile.getParentFile, s".${leaseFile.getName}.crc").toPath)
    java.nio.file.Files.writeString(leaseFile.toPath, "other-jvm-0000")
    val ex = intercept[IllegalStateException] {
      e.ingestLines(Seq("leased v=2.0 1700000001000000000"))
    }
    assert(ex.getMessage.contains("leased to another writer"))
    val ex2 = intercept[IllegalStateException] { e.compact() }
    assert(ex2.getMessage.contains("leased to another writer"))
    // reads stay available while write-locked
    assert(e.query("SELECT count(*) AS n FROM leased").isRight)
    // operator takeover: break the stale lease, writes resume
    e.breakWriterLease()
    val (ok, _) = e.ingestLines(Seq("leased v=3.0 1700000002000000000"))
    assert(ok == 1)
    assert(e.table().count() == 2)
    // clean shutdown removes our own lease only
    e.releaseWriterLease()
    assert(!leaseFile.exists)
  }

  test("pre-extension batch dirs read with the pinned schema: new typed " +
      "columns surface as nulls deterministically (round-2 ADVICE fix)") {
    val e = new Engine(spark, tmpDir("graft-compat"))
    // simulate a warehouse written BEFORE value_long/value_str/value_bool
    // existed: a batch dir whose files carry only the original columns,
    // present BEFORE the engine's first write (the real upgrade order —
    // the first mutation bootstraps the manifest from the full listing,
    // so the legacy dir joins the committed version; dirs planted AFTER
    // a manifest exists need the explicit repairManifest() escape hatch)
    val legacy = spark.sql(
      """SELECT 'old-id' AS id,
        |       timestamp'2023-11-14 22:13:20' AS time,
        |       timestamp'2023-11-14 22:13:20' AS created_at,
        |       'v' AS name, CAST(9.9 AS DOUBLE) AS value,
        |       map('h', 'z') AS tags""".stripMargin)
    legacy.write.parquet(
      s"${e.tablePath}/ingest_batch=legacy/series=oldmix/day=2023-11-14")
    e.ingestLines(Seq("mix,h=a v=1.5,n=7i,s=\"x\" 1700000000000000000"))
    // footer sampling order must not matter: the pinned schema surfaces
    // the missing typed columns as nulls on the legacy rows
    val rows = e.table().filter(col("series") === "oldmix").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Double]("value") == 9.9)
    assert(r.isNullAt(r.fieldIndex("value_long")) &&
      r.isNullAt(r.fieldIndex("value_str")) &&
      r.isNullAt(r.fieldIndex("value_bool")))
    // and the mixed table still answers typed queries across both eras
    assert(e.table().count() == 4)
    assert(e.query("SELECT count(*) AS n FROM mix WHERE value_long = 7")
      .toOption.get.head().getLong(0) == 1L)
  }

  test("compactIfNeeded keeps the batch-dir count bounded") {
    val e = new Engine(spark, tmpDir("graft-thresh"))
    (1 to 3).foreach { i =>
      e.ingestLines(Seq(s"thr v=$i.0 170000000${i}000000000"))
    }
    assert(e.batchDirCount() == 3)
    assert(!e.compactIfNeeded(maxBatchDirs = 3)) // at threshold: no-op
    assert(e.batchDirCount() == 3)
    assert(e.compactIfNeeded(maxBatchDirs = 2)) // above: compacts
    assert(e.batchDirCount() == 1) // collapsed to the single compact dir
    assert(e.table().count() == 3) // no data loss
    assert(!e.compactIfNeeded(maxBatchDirs = 2)) // bounded now
  }

  test("retention drops whole day partitions as metadata-only deletes " +
      "(superset: the reference's sled keyspace can only grow)") {
    val e = new Engine(spark, tmpDir("graft-retention"))
    e.ingestLines(Seq(
      "ret,h=a v=1.0 1700000000000000000", // 2023-11-14
      "ret,h=a v=2.0 1700086400000000000", // 2023-11-15
      "ret,h=a v=3.0 1700172800000000000")) // 2023-11-16
    assert(e.table().count() == 3)
    assert(e.applyRetention("2023-11-16") == 2)
    assert(e.table().select("day").collect()
      .map(_.get(0).toString).toSeq == Seq("2023-11-16"))
    assert(e.applyRetention("2023-11-16") == 0L) // idempotent
    // expiring ALL of a series' days removes it from the catalog too
    assert(e.applyRetention("2024-01-01") == 1)
    assert(e.listSeries().isEmpty)
    intercept[IllegalArgumentException] { e.applyRetention("16/11/2023") }
  }

  test("dropSeries deletes the partition dirs and the owned view " +
      "(DROP SERIES analog)") {
    val e = new Engine(spark, tmpDir("graft-dropseries"))
    e.ingestLines(Seq("keep v=1.0 1700000000000000000",
      "gone v=2.0 1700000000000000000"))
    // register gone's owned view via the SQL surface first
    assert(e.query("SELECT count(*) AS n FROM gone").isRight)
    assert(e.dropSeries("gone"))
    assert(e.listSeries() == Seq("keep"))
    assert(e.table().count() == 1)
    // the owned view went with the data: fail, don't serve a stale snapshot
    assert(e.query("SELECT count(*) AS n FROM gone").isLeft)
    assert(!e.dropSeries("gone")) // second drop: nothing left to delete
    assert(e.query("SELECT count(*) AS n FROM keep").isRight)
  }

  test("vacuum removes crashed-compaction staging but never the recovery " +
      "copy") {
    val e = new Engine(spark, tmpDir("graft-vacuum"))
    e.ingestLines(Seq("vc v=1.0 1700000000000000000"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // simulate a compaction that died mid-rewrite and an earlier post-swap
    // crash: both sibling dirs exist while the live table is intact
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${e.tablePath}.compacting"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${e.tablePath}.old"))
    assert(e.vacuum() == 2)
    assert(e.table().count() == 1) // live data untouched
    assert(e.vacuum() == 0) // idempotent
    // crash BETWEEN the two renames: live dir gone, .old is the recovery
    // copy — vacuum must leave it for exists()-recovery
    val p = new org.apache.hadoop.fs.Path(e.tablePath)
    fs.rename(p, new org.apache.hadoop.fs.Path(s"${e.tablePath}.old"))
    assert(e.vacuum() == 0)
    assert(e.table().count() == 1) // exists() swapped the recovery back in
  }

  test("a warehouse written before any manifest reads the same rows " +
      "through table(), listSeries(), batchSlice and statsRefresh() before " +
      "and after its first write bootstraps a manifest; reads write " +
      "nothing") {
    import org.apache.hadoop.fs.Path
    val wh = tmpDir("graft-legacy")
    val w = new Engine(spark, wh)
    w.ingestLines(Seq("la,h=a v=1.0 1700000000000000000",
      "la,h=b v=2.0 1700086400000000000", "lb v=3i 1700000000000000000"))
    w.ingestLines(Seq("lb v=4.0 1700086400000000000"))
    w.releaseWriterLease()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // without its manifest, the table is the pre-manifest on-disk layout
    fs.delete(new Path(s"${w.tablePath}.manifest"), true)
    val lease = new Path(s"${w.tablePath}.writer.lock")
    val tags = fs.listStatus(new Path(w.tablePath)).map(_.getPath.getName)
      .filter(_.startsWith("ingest_batch="))
      .map(_.stripPrefix("ingest_batch=")).toSeq
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted

    val e = new Engine(spark, wh)
    val table = rows(e.table())
    val series = e.listSeries()
    val slice = rows(e.batchSlice(tags))
    assert(table.size == 4 && series == Seq("la", "lb") && slice.size == 4)
    assert(e.manifestVersion().isEmpty, "a read published a manifest")
    assert(!fs.exists(lease), "a read took the writer lease")
    e.statsRefresh() // folds every legacy batch through batchSlice
    val stats = rows(e.statsTable())
    assert(stats.size == 4 && e.manifestVersion().isEmpty)

    e.ingestLines(Seq("lc v=5.0 1700000000000000000"))
    assert(e.manifestVersion().nonEmpty, "the write bootstraps a manifest")
    assert(rows(e.table().filter(col("series") =!= "lc")) == table)
    assert(e.listSeries() == series :+ "lc")
    assert(rows(e.batchSlice(tags)) == slice)
    e.statsRefresh()
    assert(rows(e.statsTable().filter(col("series") =!= "lc")) == stats)
  }

  test("side tables recover the .old copy after a crashed atomic " +
      "overwrite instead of serving an empty table") {
    val wh = tmpDir("graft-sideold")
    val e = new Engine(spark, wh)
    e.ingestLines(Seq("so,host=a v=1 1700000000000000000"))
    e.sketchRollup()
    e.buildTagIndex()
    assert(e.sketchTable().count() == 1)
    assert(e.tagIndex().count() == 1)
    // simulate atomicOverwrite dying between rename(path -> .old) and
    // rename(staging -> path): the base dir is gone, .old holds the data
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    for (side <- Seq("sketch_daily", "tag_index")) {
      fs.rename(new org.apache.hadoop.fs.Path(s"$wh/$side"),
        new org.apache.hadoop.fs.Path(s"$wh/$side.old"))
    }
    // reads swap the recovery copy back in (round-5 ADVICE)
    assert(e.sketchTable().count() == 1)
    assert(e.tagIndex().count() == 1)
    assert(e.queryByTag("host", "a").count() == 1)
  }

  test("streaming ingest applies event-time retention in its maintenance " +
      "slot (retainDays window behind the max ingested day)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = new Engine(spark, tmpDir("graft-sret"))
    val in = MemoryStream[String]
    val q = e.ingestStream(in.toDF().toDF("value"),
      tmpDir("graft-sret-ckpt"),
      retainDays = 2, retentionEveryBatches = 1)
    try {
      in.addData("rt v=1.0 1700000000000000000") // 2023-11-14
      q.processAllAvailable()
      in.addData("rt v=2.0 1700086400000000000") // 2023-11-15
      q.processAllAvailable() // window [14th, 15th]: nothing expires
      assert(e.table().count() == 2)
      in.addData("rt v=3.0 1700172800000000000") // 2023-11-16
      q.processAllAvailable() // window [15th, 16th]: the 14th expires
      val days = e.table().select("day").collect().map(_.get(0).toString)
      assert(days.sorted.toSeq == Seq("2023-11-15", "2023-11-16"), days.toSeq)
    } finally q.stop()
  }

  test("streaming ingest refreshes the sketch rollup in its maintenance " +
      "slot (sketchEveryBatches)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = new Engine(spark, tmpDir("graft-ssk"))
    val in = MemoryStream[String]
    val q = e.ingestStream(in.toDF().toDF("value"),
      tmpDir("graft-ssk-ckpt"), sketchEveryBatches = 1)
    try {
      in.addData("sv,host=a v=1 1700000000000000000")
      q.processAllAvailable()
      in.addData("sv,host=b v=2 1700000001000000000")
      q.processAllAvailable()
      val r = e.approxDistinct("sv", "2023-11-14", "2023-11-14").head()
      assert(r.getLong(0) == 2 && r.getLong(1) == 2 && r.getLong(2) == 2)
    } finally q.stop()
  }

  test("streaming ingest rebuilds the BM25 postings store in its " +
      "maintenance slot (searchEveryBatches) — GET /search serves " +
      "newly-streamed string fields") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = new Engine(spark, tmpDir("graft-ssearch"))
    val in = MemoryStream[String]
    val q = e.ingestStream(in.toDF().toDF("value"),
      tmpDir("graft-ssearch-ckpt"), searchEveryBatches = 1)
    try {
      in.addData("""sd doc="alpha beta" 1700000000000000000""")
      q.processAllAvailable()
      in.addData("""sd doc="alpha gamma" 1700000001000000000""")
      q.processAllAvailable()
      // both micro-batches' docs are searchable — the second batch's
      // rebuild re-indexed the full corpus
      val hits = e.search(Seq("alpha"), 10)
      assert(hits.length == 2, s"expected both streamed docs: $hits")
      val rare = e.search(Seq("gamma"), 10)
      assert(rare.length == 1 &&
        rare.head._3 == 1700000001000000L, s"stale index: $rare")
    } finally q.stop()
  }

  test("sketch rollup answers distinct-cardinality range queries from " +
      "per-day mergeable HLL sketches, no raw scan") {
    val e = new Engine(spark, tmpDir("graft-sketch"))
    e.ingestLines(Seq(
      "sk,host=a v=1 1700000000000000000", // 2023-11-14: values 1,2,3
      "sk,host=a v=2 1700000001000000000",
      "sk,host=a v=3 1700000002000000000",
      "sk,host=a v=3 1700086400000000000", // 2023-11-15: values 3,4,5
      "sk,host=b v=4 1700086401000000000", //   (3 overlaps day 1)
      "sk,host=b v=5 1700086402000000000"))
    e.sketchRollup()
    // single day: exact at this cardinality (HLL sparse mode)
    val d1 = e.approxDistinct("sk", "2023-11-14", "2023-11-14").head()
    assert(d1.getLong(0) == 3 && d1.getLong(1) == 3 && d1.getLong(2) == 1)
    // range: sketches MERGE associatively — the shared value 3 is not
    // double-counted the way per-day exact counts would be
    val r = e.approxDistinct("sk", "2023-11-14", "2023-11-15").head()
    assert(r.getLong(0) == 6, "row counts sum")
    assert(r.getLong(1) == 5, "distinct values union, overlap collapsed")
    assert(r.getLong(2) == 2, "distinct tag sets")
    // the answer comes from the rollup table only — raw measurement files
    // are not in the plan
    val scans = e.approxDistinct("sk", "2023-11-14", "2023-11-15")
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scans.contains("sketch_daily") && !scans.contains("measurements"))
    // the SAME tag set written in a different wire order is ONE tag set
    // (review fix: the sketch key sorts map entries before serializing)
    e.ingestLines(Seq(
      "sk2,host=a,region=b v=1 1700000000000000000",
      "sk2,region=b,host=a v=2 1700000001000000000"))
    e.sketchRollup()
    val t = e.approxDistinct("sk2", "2023-11-14", "2023-11-14").head()
    assert(t.getLong(2) == 1, s"tag-order sensitivity: ${t.getLong(2)}")
  }

  test("approxOverlap answers sketch set-algebra from the rollup only " +
      "(inclusion-exclusion, no raw scan)") {
    val e = new Engine(spark, tmpDir("graft-overlap"))
    // hosts a,b,c report cpu; hosts b,c,d report mem → overlap {b,c}
    e.ingestLines(Seq(
      "cpu,host=a v=1 1700000000000000000",
      "cpu,host=b v=2 1700000001000000000",
      "cpu,host=c v=3 1700000002000000000",
      "mem,host=b v=4 1700000003000000000",
      "mem,host=c v=5 1700000004000000000",
      "mem,host=d v=6 1700000005000000000"))
    e.sketchRollup()
    val r = e.approxOverlap("cpu", "mem", "2023-11-14", "2023-11-14").head()
    // HLL is exact at this cardinality (sparse mode): 3, 3, 4, 2
    assert(r.getLong(0) == 3 && r.getLong(1) == 3, s"per-series: $r")
    assert(r.getLong(2) == 4, s"union: $r")
    assert(r.getLong(3) == 2, s"overlap: $r")
    // rollup-only: raw measurement files never enter the plan
    val scans = e.approxOverlap("cpu", "mem", "2023-11-14", "2023-11-14")
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scans.contains("sketch_daily") && !scans.contains("measurements"))
    // disjoint series clamp to zero overlap (the greatest(...,0) guard)
    e.ingestLines(Seq("iso,host=z v=1 1700000000000000000"))
    e.sketchRollup()
    val z = e.approxOverlap("cpu", "iso", "2023-11-14", "2023-11-14").head()
    assert(z.getLong(3) == 0, s"disjoint overlap: $z")
  }

  test("side tables answer SELECTs on the SQL surface (quarantine, " +
      "sketch_daily, tag_index)") {
    val e = new Engine(spark, tmpDir("graft-side"))
    e.ingestLines(Seq("sd,host=a v=1 1700000000000000000", "garbage"))
    e.sketchRollup()
    e.buildTagIndex()
    assert(e.query("SELECT count(*) AS n FROM quarantine")
      .toOption.get.head().getLong(0) == 1L)
    assert(e.query(
      "SELECT n_rows FROM sketch_daily WHERE series = 'sd'")
      .toOption.get.head().getLong(0) == 1L)
    assert(e.query(
      "SELECT series FROM tag_index WHERE tag_k = 'host' AND tag_v = 'a'")
      .toOption.get.head().getString(0) == "sd")
    // joins between side tables and series views work too
    assert(e.query(
      """SELECT count(*) AS n FROM sd JOIN tag_index t
        |ON t.series = sd.series WHERE t.tag_k = 'host'""".stripMargin)
      .toOption.get.head().getLong(0) == 1L)
    // a SERIES that shares a reserved name is ambiguous: fail loudly,
    // never silently swap which data the query reads
    e.ingestLines(Seq("quarantine v=9 1700000000000000000"))
    val clash = e.query("SELECT * FROM quarantine")
    assert(clash.isLeft && clash.swap.toOption.get.contains("reserved"),
      clash.toString)
    assert(e.query(
      "SELECT count(*) AS n FROM measurements WHERE series = 'quarantine'")
      .toOption.get.head().getLong(0) == 1L)
  }

  test("compactBucketed ANALYZEs the catalog table: CBO column stats " +
      "flip a selectively-filtered join side to broadcast") {
    val e = new Engine(spark, tmpDir("graft-cbo"))
    // 3000 rows with ~3000 DISTINCT field names: `name = 'f42'` keeps ~1
    // row, and only ndv stats can tell the planner that
    e.ingestLines((1 to 3000).map(i =>
      s"cpu,host=h${i % 7} f$i=$i.5 17000000${i % 10}0000000000"))
    val keys =
      Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.cbo.enabled", "true")
    // the probe key must not be foldable or the equi-join degenerates to
    // a nested loop over a literal predicate
    def probe = spark.range(0, 3000000)
      .select(expr("if(id % 2 = 0, 'cpu', concat('k', id))").as("series"),
        col("id"))
    def dim(dimName: String) = spark.table(dimName)
      .filter(col("name") === "f42").select(col("series"), col("name"))
    def staticPlan(dimName: String): String =
      probe.join(dim(dimName), Seq("series"))
        .groupBy(col("name")).agg(count(lit(1)).as("n"))
        .queryExecution.sparkPlan.toString // STATIC plan: no AQE rescue
    try {
      // control: the same data saved WITHOUT stats — the filter is
      // priced at (pruned) table size because nothing knows its ndv
      e.table().write.bucketBy(4, "series").sortBy("series")
        .option("path", tmpDir("graft-cbo-nostats") + "/t")
        .saveAsTable("m_cbo_nostats")
      // maintenance slot: compactBucketed writes AND analyzes
      e.compactBucketed("m_cbo_stats", key = "series", buckets = 4)
      val desc = spark.sql("DESCRIBE TABLE EXTENDED m_cbo_stats")
        .collect().map(_.mkString("|")).mkString("\n")
      assert(desc.contains("Statistics"), s"no stats recorded:\n$desc")
      // the measurable CBO effect: ndv prices `name = 'f42'` at ~1 of
      // ~3000 rows; the unanalyzed control cannot shrink the filter
      val noStatsEst = dim("m_cbo_nostats").queryExecution
        .optimizedPlan.stats.sizeInBytes
      val statsEst = dim("m_cbo_stats").queryExecution
        .optimizedPlan.stats.sizeInBytes
      assert(statsEst * 10 <= noStatsEst,
        s"column stats did not shrink the filter estimate: " +
          s"$statsEst vs $noStatsEst")
      // and that estimate is what flips the join: with the broadcast
      // threshold between the two estimates, only the analyzed side
      // plans as a broadcast join (self-calibrating against parquet
      // size drift)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((statsEst + noStatsEst) / 2).toString)
      assert(!staticPlan("m_cbo_nostats").contains("BroadcastHashJoin"),
        s"control broadcasts without stats:\n" +
          staticPlan("m_cbo_nostats"))
      assert(staticPlan("m_cbo_stats").contains("BroadcastHashJoin"),
        s"ndv-priced selective filter did not flip to broadcast:\n" +
          staticPlan("m_cbo_stats"))
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      spark.sql("DROP TABLE IF EXISTS m_cbo_nostats")
      spark.sql("DROP TABLE IF EXISTS m_cbo_stats")
    }
  }

  test("compactBucketed persists equi-height histograms: the CBO prices " +
      "a range predicate off real bucket bounds (estimate within the " +
      "bucket depth), while plain ndv/min-max stats assume uniform and " +
      "overshoot 8x") {
    val e = new Engine(spark, tmpDir("graft-hist-cbo"))
    // skewed value distribution: 1900 rows in [0,10), 100 in [90,100) —
    // `value >= 50` keeps exactly 100 rows, but min/max-uniform pricing
    // says 50% (~1000)
    e.ingestLines((1 to 2000).map { i =>
      val v = if (i <= 1900) i % 10 else 90 + i % 10
      s"cpu,host=h${i % 7} v=$v.0 17000000${i % 10}0000000000"
    })
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    def est(t: String): BigInt =
      spark.table(t).filter(col("value") >= 50.0)
        .queryExecution.optimizedPlan.stats.rowCount
        .getOrElse(fail(s"no rowCount estimate for $t"))
    try {
      // control: same data, column stats WITHOUT histograms (the
      // pre-round-14 ANALYZE) — min/max-uniform pricing
      e.table().write.bucketBy(4, "series").sortBy("series")
        .option("path", tmpDir("graft-hist-ctl") + "/t")
        .saveAsTable("m_hist_ctl")
      spark.sql("ANALYZE TABLE m_hist_ctl COMPUTE STATISTICS")
      spark.sql("ANALYZE TABLE m_hist_ctl COMPUTE STATISTICS " +
        "FOR COLUMNS `value`")
      // maintenance slot: compactBucketed now analyzes WITH histograms
      e.compactBucketed("m_hist_stats", key = "series", buckets = 4)
      val uniform = est("m_hist_ctl")
      val histo = est("m_hist_stats")
      // the uniform control overshoots the 100 true rows massively ...
      assert(uniform >= 800,
        s"control did not price uniform (~1000 expected): $uniform")
      // ... the histogram estimate lands within one bucket depth of the
      // truth (254 default buckets over 2000 rows ⇒ depth ≈ 8; allow a
      // generous envelope for endpoint interpolation)
      assert((histo - 100).abs <= 100,
        s"histogram estimate $histo not within a bucket bound of 100")
      assert(histo * 8 <= uniform,
        s"histograms did not beat uniform pricing: $histo vs $uniform")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
        case None => spark.conf.unset("spark.sql.cbo.enabled")
      }
      spark.sql("DROP TABLE IF EXISTS m_hist_ctl")
      spark.sql("DROP TABLE IF EXISTS m_hist_stats")
    }
  }

  test("library functions are callable from the engine SQL surface " +
      "(parse_line_expr / vec_dot / vec_cosine)") {
    val r = engine.query(
      """SELECT parse_line_expr('m,h=a v=1.5,n=7i 1700000000000000000') AS p,
        |       vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       vec_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c
        |""".stripMargin).toOption.get.head()
    val p = r.getStruct(0)
    assert(p.getAs[String]("measurement") == "m")
    assert(p.getAs[Map[String, Double]]("fields") == Map("v" -> 1.5))
    assert(p.getAs[Map[String, Long]]("fields_int") == Map("n" -> 7L))
    assert(r.getDouble(1) == 11.0)
    assert(r.getDouble(2) == 1.0)
  }

  test("the native text-quality kernels are callable from the engine " +
      "SQL surface (classifier_scores / repetition_stats / gopher_stats) " +
      "and agree with their Column API forms") {
    val r = engine.query(
      """SELECT classifier_scores('the quick fox') AS cs,
        |       gopher_stats('the quick brown fox and a dog') AS gs,
        |       repetition_stats('a a a a') AS rs
        |""".stripMargin).toOption.get.head()
    val cs = r.getSeq[Long](0)
    assert(cs.head == 3L, s"classifier token count: $cs")
    // Column-API twin on the same literal — same expression, same result
    val viaColumn = spark.range(1).select(
      graft.functions.TextOps.classifier_scores(
        org.apache.spark.sql.functions.lit("the quick fox")).as("cs"))
      .head().getSeq[Long](0)
    assert(cs == viaColumn, "SQL registration diverged from Column API")
    // gopher/repetition stats are STRUCT-typed kernels — present and
    // populated is the registration claim here (their arithmetic is
    // oracle-gated by q_text_gopher / q_text_repetition)
    assert(!r.isNullAt(1) && r.getStruct(1).length > 0)
    assert(!r.isNullAt(2) && r.getStruct(2).length > 0)
  }

  test("incremental stats store: refresh folds ONLY unfolded batches, " +
      "readout equals the recompute, and compaction/retention/dropSeries " +
      "keep it consistent") {
    val wh = tmpDir("graft-stats")
    val e = new Engine(spark, wh)
    // 1700000000e9 ns = 2023-11-14; +86400 s = 2023-11-15
    e.ingestLines(Seq(
      "cpu load=1.5 1700000000000000000",
      "cpu load=2.5 1700000000000000000",
      "cpu load=4.0 1700086400000000000",
      "mem used=10.0 1700000000000000000"))
    assert(!e.statsStoreExists)
    assert(e.stats("cpu", "load").collect().isEmpty) // empty-not-error
    e.statsRefresh()
    assert(e.statsStoreExists)
    def cpu() = e.stats("cpu", "load").collect().map(r =>
      (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(cpu() == Seq(
      ("2023-11-14", 2L, 4.0, 2.0, 1.5, 2.5),
      ("2023-11-15", 1L, 4.0, 4.0, 4.0, 4.0)))
    def manifest() = java.nio.file.Files.readString(
        java.nio.file.Path.of(s"$wh/stats_daily/REGISTRY")).split("\n")
      .collect { case l if l.startsWith("leaf\t") =>
        l.stripPrefix("leaf\tingest_batch=").takeWhile(_ != '/')
      }
      .toSet
    val folded1 = manifest()
    assert(folded1.nonEmpty)
    // no new data → refresh is a no-op (manifest object untouched)
    val mtime = new java.io.File(s"$wh/stats_daily").lastModified
    e.statsRefresh()
    assert(new java.io.File(s"$wh/stats_daily").lastModified == mtime,
      "refresh without new batches rewrote the store")
    // a second batch folds INCREMENTALLY: manifest grows by exactly the
    // new tags; the merged readout equals the full recompute
    e.ingestLines(Seq("cpu load=3.5 1700000000000000000"))
    e.statsRefresh()
    assert(folded1.subsetOf(manifest()) && manifest().size > folded1.size,
      "second refresh did not fold the new batch on top of the old store")
    assert(cpu() == Seq(
      ("2023-11-14", 3L, 7.5, 2.5, 1.5, 3.5),
      ("2023-11-15", 1L, 4.0, 4.0, 4.0, 4.0)))
    // compaction rewrites every batch tag — the store must survive (the
    // invalid-manifest rebuild path, exercised eagerly by compact())
    e.compact()
    assert(cpu() == Seq(
      ("2023-11-14", 3L, 7.5, 2.5, 1.5, 3.5),
      ("2023-11-15", 1L, 4.0, 4.0, 4.0, 4.0)))
    // retention prunes the store's rows with the data (no stale serving)
    assert(e.applyRetention("2023-11-15") > 0)
    assert(cpu() == Seq(("2023-11-15", 1L, 4.0, 4.0, 4.0, 4.0)))
    // ...and the pruned day does NOT leak back on the next refresh
    e.ingestLines(Seq("cpu load=9.0 1700086400000000000"))
    e.statsRefresh()
    assert(cpu() == Seq(("2023-11-15", 2L, 13.0, 6.5, 4.0, 9.0)))
    // dropSeries prunes the dropped series' stats rows only
    assert(e.stats("mem", "used").collect().isEmpty) // mem expired above
    e.ingestLines(Seq("mem used=20.0 1700086400000000000"))
    e.statsRefresh()
    assert(e.stats("mem", "used").collect().length == 1)
    assert(e.dropSeries("mem"))
    assert(e.stats("mem", "used").collect().isEmpty)
    assert(cpu() == Seq(("2023-11-15", 2L, 13.0, 6.5, 4.0, 9.0)))
    // integer fields (42i → value_long) fold into the same stats — a
    // field's stats must not depend on the wire format's typed column
    e.ingestLines(Seq("disk free=7i 1700086400000000000",
      "disk free=3i 1700086400000000000",
      "disk free=2.5 1700086400000000000"))
    e.statsRefresh()
    val disk = e.stats("disk", "free").collect().map(r =>
      (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(disk == Seq(("2023-11-15", 3L, 12.5, 12.5 / 3.0, 2.5, 7.0)))
  }
}
