package graft.engine

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Engine-level MERGE contract (round-14 VERDICT #1 — the reference's
  * immutability TODO, persistence.rs:39, turned into the lakehouse
  * mutation surface): merged state ≡ what a full recompute of the
  * semantics would produce; UNTOUCHED partition files byte-identical;
  * dependent stores (stats) refreshed; a crashed swap rolls back. */
class MergeSpec extends SparkSpec {

  private def ts(sec: Long) = Timestamp.from(Instant.ofEpochSecond(sec))

  // two series × two days, two fields each → 8 rows, 4 partitions
  private val t1 = 1700000000L // 2023-11-14
  private val t2 = 1700200000L // 2023-11-17
  private def freshEngine(tag: String): Engine = {
    val e = new Engine(spark, tmpDir(tag))
    val (ok, err) = e.ingestLines(Seq(
      s"ma v=1.0,w=2.0 ${t1}000000000",
      s"ma v=3.0,w=4.0 ${t2}000000000",
      s"mb v=5.0,w=6.0 ${t1}000000000",
      s"mb v=7.0,w=8.0 ${t2}000000000"))
    assert(ok == 8 && err == 0)
    e
  }

  private def changes(rows: Seq[(String, String, String, Timestamp,
      Option[Double], Map[String, String])]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("op", "series", "name", "time", "value", "tags")
      .withColumn("value_long", lit(null).cast("long"))
      .withColumn("value_str", lit(null).cast("string"))
      .withColumn("value_bool", lit(null).cast("boolean"))
  }

  private def files(root: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(root))
      .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
  }

  test("mergeBatch applies U-matched/U-unmatched/D-matched/D-unmatched, " +
      "keeps updated row identity, rewrites ONLY touched partitions " +
      "(untouched files byte-identical), and re-syncs the stats store") {
    val wh = tmpDir("graft-merge")
    val e = new Engine(spark, wh)
    val (ok, _) = e.ingestLines(Seq(
      s"ma v=1.0,w=2.0 ${t1}000000000",
      s"ma v=3.0,w=4.0 ${t2}000000000",
      s"mb v=5.0,w=6.0 ${t1}000000000",
      s"mb v=7.0,w=8.0 ${t2}000000000"))
    assert(ok == 8)
    e.statsRefresh()
    val idBefore = e.table().filter(col("series") === "ma" &&
      col("name") === "v" && col("time") === ts(t1))
      .select(col("id")).head().getString(0)
    // untouched = both day-2 partitions; snapshot their files
    val before = files(s"$wh/measurements")
      .filter(_._1.contains("day=2023-11-17"))
    assert(before.nonEmpty, "fixture drift: no day-2 files")

    val stats = e.mergeBatch(changes(Seq(
      ("U", "ma", "v", ts(t1), Some(2.5), Map("k" -> "x")), // update
      ("U", "ma", "v2", ts(t1), Some(9.0), Map.empty),      // insert
      ("D", "mb", "v", ts(t1), None, Map.empty),            // delete
      ("D", "mb", "zz", ts(t1), None, Map.empty))))         // no-op
    assert(stats("updated") == 1L, s"stats: $stats")
    assert(stats("inserted") == 1L, s"stats: $stats")
    assert(stats("deleted") == 1L, s"stats: $stats")
    assert(stats("kept") == 2L, s"stats: $stats") // ma.w + mb.w on day 1
    assert(stats("touched_partitions") == 2L, s"stats: $stats")

    // merged state ≡ the semantics applied by hand
    val got = e.table()
      .select(col("series"), col("name"), col("value"), col("tags"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getAs[Map[String, String]](3)))
      .toSet
    val want = Set(
      ("ma", "v", 2.5, Map("k" -> "x")), // updated (new value + tags)
      ("ma", "w", 2.0, Map.empty[String, String]),
      ("ma", "v2", 9.0, Map.empty[String, String]), // inserted
      ("ma", "v", 3.0, Map.empty[String, String]),  // untouched day 2
      ("ma", "w", 4.0, Map.empty[String, String]),
      ("mb", "w", 6.0, Map.empty[String, String]),  // v deleted
      ("mb", "v", 7.0, Map.empty[String, String]),  // untouched day 2
      ("mb", "w", 8.0, Map.empty[String, String]))
    assert(got == want, s"merged state diverged:\n got=$got\nwant=$want")
    // updated row KEPT its identity (id unchanged — a correction, not a
    // delete+insert)
    val idAfter = e.table().filter(col("series") === "ma" &&
      col("name") === "v" && col("time") === ts(t1))
      .select(col("id")).head().getString(0)
    assert(idAfter == idBefore, "update did not preserve row identity")

    // untouched partitions: every file byte-identical (same path, same
    // mtime, same length — never opened, never rewritten)
    val after = files(s"$wh/measurements")
      .filter(_._1.contains("day=2023-11-17"))
    assert(after == before,
      s"untouched files changed:\n before=$before\n after=$after")

    // the stats store re-synced: equals a full recompute from the table
    val storeRows = e.statsTable()
      .select(col("series"), col("day").cast("string"), col("name"),
        col("n"), col("sum_v").cast("double"))
      .collect().map(_.toSeq.toList).toSet
    val recompute = e.table()
      .groupBy(col("series"), col("day").cast("string"), col("name"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .collect().map(_.toSeq.toList).toSet
    assert(storeRows == recompute,
      s"stats store diverged:\n store=$storeRows\n recompute=$recompute")
  }

  test("a feed with an unknown op or duplicate keys is rejected loudly " +
      "(Delta multi-match parity), leaving the table untouched") {
    val e = freshEngine("graft-merge-val")
    val rowsBefore = e.table().count()
    intercept[IllegalArgumentException] {
      e.mergeBatch(changes(Seq(
        ("X", "ma", "v", ts(t1), Some(1.0), Map.empty))))
    }
    intercept[IllegalArgumentException] {
      e.mergeBatch(changes(Seq(
        ("U", "ma", "v", ts(t1), Some(1.0), Map.empty),
        ("U", "ma", "v", ts(t1), Some(2.0), Map.empty))))
    }
    intercept[IllegalArgumentException] { // incomplete merge key
      e.mergeBatch(changes(Seq(
        ("U", "ma", null, ts(t1), Some(1.0), Map.empty))))
    }
    assert(e.table().count() == rowsBefore)
  }

  test("a registered continuous query stays consistent through a merge: " +
      "touched slices recompute via the unseen merge batch, and a slice " +
      "the merge EMPTIED is pruned from the CQ target (no stale rows)") {
    val e = freshEngine("graft-merge-cq")
    e.registerCq("agg", "hour")
    assert(e.refreshCq("agg") == 4L) // 2 series × 2 days
    e.mergeBatch(changes(Seq(
      ("U", "ma", "v", ts(t1), Some(100.0), Map.empty), // update (ma, d1)
      ("D", "mb", "v", ts(t1), None, Map.empty),        // empty (mb, d1)
      ("D", "mb", "w", ts(t1), None, Map.empty))))      // ... entirely
    // only (ma, d1) landed in the merge batch — exactly 1 dirty slice
    val recomputed = e.refreshCq("agg")
    assert(recomputed == 1L, s"dirty slices recomputed: $recomputed")
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select(col("series"), col("day").cast("string"), col("name"),
        col("bucket_start").cast("string"), col("n"), col("sum_v"),
        col("min_v"), col("max_v"))
      .collect().map(_.toSeq.toList).toSet
    val got = proj(e.cqTable("agg"))
    val want = proj(e.table()
      .groupBy(col("series"), col("name"),
        date_trunc("hour", col("time")).as("bucket_start"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .withColumn("day", col("bucket_start").cast("date")))
    assert(got == want, s"cq diverged from recompute:\n got=$got\nwant=$want")
    // the emptied slice left NOTHING behind
    assert(!got.exists(r => r.head == "mb" &&
      r(1).toString.startsWith("2023-11-14")), s"stale emptied slice: $got")
    assert(got.exists(r => r.head == "mb"), "mb day-2 rows must survive")
  }

  test("mergeStream applies a continuous correction feed batch-by-batch " +
      "(CDC apply): each micro-batch folds through ONE transactional " +
      "mergeBatch, state tracks the feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = freshEngine("graft-merge-stream")
    val in = MemoryStream[String]
    val q = e.mergeStream(in.toDF().toDF("value"),
      tmpDir("graft-merge-stream-ckpt"))
    def state: Set[(String, String, Double)] = e.table()
      .select(col("series"), col("name"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2))).toSet
    try {
      in.addData(s"U ma v=10.0 ${t1}000000000",
        s"U ma v9=9.0 ${t1}000000000")
      q.processAllAvailable()
      assert(state == Set(("ma", "v", 10.0), ("ma", "w", 2.0),
        ("ma", "v9", 9.0), ("ma", "v", 3.0), ("ma", "w", 4.0),
        ("mb", "v", 5.0), ("mb", "w", 6.0), ("mb", "v", 7.0),
        ("mb", "w", 8.0)),
        s"after batch 1: $state")
      in.addData(s"D mb v=0 ${t1}000000000")
      q.processAllAvailable()
      assert(!state.contains(("mb", "v", 5.0)) &&
        state.contains(("mb", "v", 7.0)), s"after batch 2: $state")
    } finally q.stop()
  }

  test("a merge crashed AFTER swap-in but BEFORE the manifest publish " +
      "rolls BACK on the next read (the unpublished batch joined no " +
      "version — the table is untouched); one crashed after the publish " +
      "rolls FORWARD (reconcile replayed from the journal)") {
    val e = freshEngine("graft-merge-crash")
    val wh = e.tablePath
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val rowsBefore = e.table().count()
    val stateBefore = e.table()
      .select(col("series"), col("name"), col("value")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

    // crash INSIDE the gap window (batch dir physically in place, no
    // publish yet) — injected via the real code path, not fabricated
    e.mergeSwapHook = () => throw new RuntimeException("crash-pre-publish")
    intercept[RuntimeException] {
      e.mergeBatch(changes(Seq(
        ("U", "ma", "v", ts(t1), Some(99.0), Map.empty))))
    }
    e.mergeSwapHook = () => ()
    assert(fs.exists(p(s"$wh.merge_journal")), "crash left no journal")
    // next read recovers: unpublished merge batch dropped, journal gone
    assert(e.table().count() == rowsBefore, "roll-back changed the table")
    assert(!fs.exists(p(s"$wh.merge_journal")), "roll-back left journal")
    assert(!fs.listStatus(p(wh)).exists(
        _.getPath.getName.startsWith("ingest_batch=merge-")),
      "roll-back left the unpublished merge batch dir")
    val stateAfterRollback = e.table()
      .select(col("series"), col("name"), col("value")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(stateAfterRollback == stateBefore, "roll-back altered rows")

    // crash AFTER the publish (reconcile never ran) → roll forward
    e.reconcileHook = () => throw new RuntimeException("crash-pre-reconcile")
    intercept[RuntimeException] {
      e.mergeBatch(changes(Seq(
        ("U", "ma", "v", ts(t1), Some(42.0), Map.empty))))
    }
    e.reconcileHook = () => ()
    assert(fs.exists(p(s"$wh.merge_journal")), "crash left no journal")
    e.table().count() // triggers roll-forward
    assert(!fs.exists(p(s"$wh.merge_journal")), "roll-forward left journal")
    val updated = e.table().filter(col("series") === "ma" &&
      col("name") === "v" && col("time") === ts(t1))
      .select(col("value")).head().getDouble(0)
    assert(updated == 42.0, "roll-forward lost the committed merge")
  }

  test("a second engine instance reading through the manifest observes " +
      "ONLY pre- or post-merge state, even INSIDE the swap window " +
      "(cross-JVM snapshot isolation, round-15 VERDICT #1) — and the " +
      "retired partition dirs stay on disk until vacuum() collects them") {
    val e = freshEngine("graft-merge-manifest")
    val wh = e.tablePath
    val warehouse = wh.stripSuffix("/measurements")
    val e2 = new Engine(spark, warehouse) // separate instance, shared dirs
    def state(en: Engine): Set[(String, String, Double)] = en.table()
      .select(col("series"), col("name"), col("value")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val pre = state(e2)
    // observe from INSIDE the gap window: merged batch physically in
    // place, manifest not yet published. e2's read takes no lock
    // (manifest path), so this would have seen the gap pre-round-16.
    @volatile var mid: Set[(String, String, Double)] = null
    e.mergeSwapHook = () => { mid = state(e2) }
    e.mergeBatch(changes(Seq(
      ("U", "ma", "v", ts(t1), Some(77.0), Map.empty),
      ("D", "mb", "v", ts(t1), None, Map.empty))))
    e.mergeSwapHook = () => ()
    assert(mid == pre,
      s"mid-swap reader did not pin the pre-merge snapshot:\n mid=$mid\n pre=$pre")
    val post = state(e2)
    assert(post != pre && post.contains(("ma", "v", 77.0)) &&
      !post.contains(("mb", "v", 5.0)), s"post state wrong: $post")
    // the replaced (ma, day-1) / (mb, day-1) leaf dirs were RETIRED in
    // place (a pinned pre-merge reader could still scan them) …
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leafDirs(): Seq[String] = {
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      for {
        b <- fs.listStatus(p(wh)).toSeq
        if b.getPath.getName.startsWith("ingest_batch=")
        s <- fs.listStatus(b.getPath).toSeq
        d <- fs.listStatus(s.getPath).toSeq
      } yield s"${b.getPath.getName}/${s.getPath.getName}/${d.getPath.getName}"
    }
    val preMergeBatchLeaves = leafDirs()
      .filterNot(_.startsWith("ingest_batch=merge-"))
      .filter(_.contains("day=2023-11-14"))
    assert(preMergeBatchLeaves.nonEmpty,
      "retired day-1 dirs were deleted eagerly — pinned readers broken")
    // … and vacuum() garbage-collects exactly them, leaving reads intact
    val removed = e.vacuum()
    assert(removed >= 2, s"vacuum removed $removed dirs, expected >= 2")
    assert(leafDirs().filterNot(_.startsWith("ingest_batch=merge-"))
        .forall(!_.contains("day=2023-11-14")),
      "vacuum left retired day-1 dirs behind")
    assert(state(e2) == post, "vacuum changed the committed read state")
  }

  test("the dependent-store reconcile runs OUTSIDE the table lock " +
      "(round-15 VERDICT #2): a concurrent writeBatch completes while " +
      "the reconcile is parked, and the stores still converge") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val e = freshEngine("graft-merge-outlock")
    e.statsRefresh()
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    e.reconcileHook = () => {
      entered.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
    val merged = Future {
      e.mergeBatch(changes(Seq(
        ("U", "ma", "v", ts(t1), Some(11.0), Map.empty))))
    }
    try {
      assert(entered.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "merge never reached the reconcile")
      // the merge thread is parked INSIDE the reconcile; an append must
      // proceed now — it only needs the table lock, which the reconcile
      // no longer holds (pre-round-16 this blocked for the whole window)
      val (ok, err) = e.ingestLines(Seq(s"mc v=9.0 ${t1}000000000"))
      assert(ok == 1L && err == 0L, "concurrent append blocked or failed")
    } finally release.countDown()
    Await.result(merged, 300.seconds)
    e.reconcileHook = () => ()
    e.statsRefresh() // fold the concurrent batch
    val storeRows = e.statsTable()
      .select(col("series"), col("day").cast("string"), col("name"),
        col("n"), col("sum_v").cast("double"))
      .collect().map(_.toSeq.toList).toSet
    val recompute = e.table()
      .groupBy(col("series"), col("day").cast("string"), col("name"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .collect().map(_.toSeq.toList).toSet
    assert(storeRows == recompute,
      s"stores diverged after concurrent write:\n store=$storeRows\n want=$recompute")
  }

  test("store refreshes racing the merge reconcile leave the sketch and " +
      "stats stores equal to a rebuild: each store's merge step holds " +
      "the table lock") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val e = freshEngine("graft-merge-race")
    val wh = e.tablePath.stripSuffix("/measurements")
    e.sketchRollup(); e.statsRefresh()
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    e.reconcileHook = () => {
      entered.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
    val merged = Future {
      e.mergeBatch(changes(Seq(
        ("U", "ma", "v", ts(t1), Some(11.0), Map.empty),
        ("D", "mb", "w", ts(t2), None, Map.empty))))
    }
    // appends and refreshes start while the merge is parked, then run
    // on while its reconcile prunes and refolds the same stores
    val refreshes = try {
      assert(entered.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "merge never reached the reconcile")
      e.ingestLines(Seq(s"mc v=9.0 ${t1}000000000"))
      Future {
        for (i <- 1 to 2) {
          e.ingestLines(Seq(s"ma v=$i.5 ${t1 + i}000000000"))
          e.sketchRollup(); e.statsRefresh()
        }
      }
    } finally release.countDown()
    Await.result(merged, 300.seconds)
    Await.result(refreshes, 300.seconds)
    e.reconcileHook = () => ()
    e.sketchRollup(); e.statsRefresh()
    def readout(): Seq[String] = (e.sketchTable().select(col("series"),
        col("day"), col("n_rows"), hll_sketch_estimate(col("value_sketch")))
      .collect() ++ e.statsTable().collect()).map(_.toString).toSeq.sorted
    val folded = readout()
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (s <- Seq("sketch_daily", "stats_daily"))
      fs.delete(new org.apache.hadoop.fs.Path(s"$wh/$s"), true)
    e.sketchRollup(); e.statsRefresh()
    assert(folded == readout(), "a store lost or double-folded rows")
  }

  test("a concurrent reader during mergeBatch sees PRE- or POST-merge " +
      "state, never the gap (round-14 VERDICT #5): table() snapshots " +
      "its file listing under the table lock; a stale pre-snapshot " +
      "fails loudly, never silently missing touched partitions") {
    val e = freshEngine("graft-merge-reader")
    val pre = e.table().count() // 8
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        // a pre-merge snapshot whose files the merge moves mid-read
        // throws (loud) — the contract is only about counts that
        // SUCCEED: those must be exactly pre- or post-state
        try observed.add(e.table().count())
        catch { case _: Throwable => () }
      }
    })
    reader.start()
    try {
      Thread.sleep(200) // let the reader observe pre-state
      e.mergeBatch(changes(Seq(
        ("D", "ma", "v", ts(t1), None, Map.empty),
        ("D", "ma", "w", ts(t1), None, Map.empty),
        ("U", "mb", "v", ts(t1), Some(50.0), Map.empty))))
      Thread.sleep(200) // and post-state
    } finally { stop = true; reader.join(30000) }
    val post = e.table().count() // 6
    assert(pre == 8L && post == 6L, s"fixture drift: pre=$pre post=$post")
    val counts = observed.toArray(Array.empty[java.lang.Long]).toSet
    assert(counts.nonEmpty, "reader observed nothing")
    assert(counts.subsetOf(Set(java.lang.Long.valueOf(pre),
        java.lang.Long.valueOf(post))),
      s"reader observed a mid-swap gap state: $counts " +
        s"(allowed: $pre or $post)")
  }

  test("a reader NEVER recovers crashed-merge state under a FOREIGN " +
      "writer lease (round-14 ADVICE high: the journal may be another " +
      "JVM's LIVE merge — recovering would abort it); reads still serve " +
      "the committed pre-merge snapshot through the manifest, and " +
      "breakWriterLease unblocks the recovery") {
    val e = freshEngine("graft-merge-foreign")
    val wh = e.tablePath
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val rowsBefore = e.table().count()
    // a merge crashed inside the swap window (real code path)…
    e.mergeSwapHook = () => throw new RuntimeException("crash-pre-publish")
    intercept[RuntimeException] {
      e.mergeBatch(changes(Seq(
        ("U", "ma", "v", ts(t1), Some(99.0), Map.empty))))
    }
    e.mergeSwapHook = () => ()
    // …and the lease belongs to a FOREIGN writer
    e.breakWriterLease()
    val lout = fs.create(p(s"$wh.writer.lock"), true)
    lout.write("jvm-elsewhere-123".getBytes("UTF-8"))
    lout.close()
    // the reader must NOT roll anything back — journal and unpublished
    // batch dir stay untouched — but unlike the pre-manifest posture the
    // read is NOT degraded: the committed version never included the
    // crashed merge, so the snapshot is complete
    assert(e.table().count() == rowsBefore,
      "manifest read did not serve the committed pre-merge snapshot")
    assert(fs.exists(p(s"$wh.merge_journal")),
      "reader deleted the merge journal under a foreign lease")
    assert(fs.listStatus(p(wh)).exists(
        _.getPath.getName.startsWith("ingest_batch=merge-")),
      "reader deleted the crashed merge's batch dir under a foreign lease")
    // operator protocol: break the crashed writer's lease → next read
    // recovers, and does NOT keep a lease it only took transiently
    e.breakWriterLease()
    assert(e.table().count() == rowsBefore, "recovery after lease break")
    assert(!fs.exists(p(s"$wh.merge_journal")), "recovery left journal")
    assert(!fs.exists(p(s"$wh.writer.lock")),
      "a reader-initiated recovery must not HOLD the writer lease")
  }

  test("roll-forward recovery REPLAYS the dependent-store reconcile " +
      "(round-14 ADVICE medium): a crash between swap-in and the " +
      "reconcile must not leave stats double-counting touched " +
      "partitions or a merge-emptied CQ slice stale") {
    val e = freshEngine("graft-merge-replay")
    val wh = e.tablePath
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    e.statsRefresh()
    e.registerCq("agg", "hour")
    assert(e.refreshCq("agg") == 4L)
    // the exact post-publish pre-reconcile crash of a merge that
    // DELETED every (mb, day-1) row — injected via the real code path
    e.reconcileHook = () => throw new RuntimeException("crash-pre-reconcile")
    intercept[RuntimeException] {
      e.mergeBatch(changes(Seq(
        ("D", "mb", "v", ts(t1), None, Map.empty),
        ("D", "mb", "w", ts(t1), None, Map.empty))))
    }
    e.reconcileHook = () => ()
    assert(fs.exists(p(s"$wh.merge_journal")), "crash left no journal")
    // the next read triggers roll-forward + reconcile REPLAY
    e.table().count()
    assert(!fs.exists(p(s"$wh.merge_journal")), "roll-forward left journal")
    // stats: must equal a recompute of the post-merge table — in
    // particular the staged-out (mb, day-1) rows must be GONE, not
    // double-counted by the next refresh
    val storeRows = e.statsTable()
      .select(col("series"), col("day").cast("string"), col("name"),
        col("n"), col("sum_v").cast("double"))
      .collect().map(_.toSeq.toList).toSet
    val recompute = e.table()
      .groupBy(col("series"), col("day").cast("string"), col("name"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .collect().map(_.toSeq.toList).toSet
    assert(storeRows == recompute,
      s"replayed stats diverged:\n store=$storeRows\n want=$recompute")
    assert(!storeRows.exists(r => r.head == "mb" &&
      r(1) == "2023-11-14"), s"stats kept the emptied partition: $storeRows")
    // a later statsRefresh must not re-fold anything (idempotent end
    // state: the merge tag is already in the store manifest)
    e.statsRefresh()
    val after = e.statsTable()
      .select(col("series"), col("day").cast("string"), col("name"),
        col("n"), col("sum_v").cast("double"))
      .collect().map(_.toSeq.toList).toSet
    assert(after == storeRows, "statsRefresh after replay changed rows")
    // CQ: the emptied (mb, day-1) slice was pruned by the replay
    val cqRows = e.cqTable("agg")
      .select(col("series"), col("day").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!cqRows.contains(("mb", "2023-11-14")),
      s"replay left the merge-emptied CQ slice: $cqRows")
    assert(cqRows.contains(("mb", "2023-11-17")), "mb day-2 must survive")
  }

  test("time travel (round-16): history() carries per-op provenance, " +
      "tableAt() reconstructs a pre-merge snapshot from retired leaf " +
      "dirs, vacuum(keepVersions) retains them, and the default vacuum " +
      "collapses history with a LOUD stale read — never a partial one") {
    val e = new Engine(spark, tmpDir("graft-timetravel"))
    e.ingestLines(Seq(s"ma v=1.0 ${t1}000000000"))
    e.ingestLines(Seq(s"ma v=3.0 ${t2}000000000"))
    val hist = e.history()
    // ascending versions; first publish is the bootstrap, every write
    // names its batch tag
    assert(hist.map(_._1) == hist.map(_._1).sorted)
    assert(hist.head._2 == "bootstrap", s"unexpected history: $hist")
    assert(hist.count(_._2.startsWith("write:")) == 2,
      s"expected two write publishes: $hist")
    val preMerge = hist.last._1
    e.mergeBatch(changes(Seq(
      ("U", "ma", "v", ts(t1), Some(9.0), Map.empty))))
    assert(e.history().last._2 == "merge")
    def vals(df: DataFrame): Seq[Double] = df
      .filter(col("name") === "v")
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(vals(e.table()) == Seq(3.0, 9.0), "merged current state")
    assert(vals(e.tableAt(preMerge)) == Seq(1.0, 3.0),
      "pre-merge snapshot must serve the RETIRED leaf dir's row")
    // retention-aware GC: every leaf some listed version references
    // survives, so the snapshot keeps working
    assert(e.vacuum(keepVersions = 8) == 0,
      "nothing is garbage while all versions are retained")
    assert(vals(e.tableAt(preMerge)) == Seq(1.0, 3.0))
    // default vacuum = current-snapshot-only: the retired dir goes and
    // the stale snapshot read fails loudly, naming the missing leaf
    assert(e.vacuum() > 0, "the merge-retired leaf dir is now garbage")
    assert(vals(e.table()) == Seq(3.0, 9.0), "current read unchanged")
    val gone = intercept[IllegalStateException](e.tableAt(preMerge))
    assert(gone.getMessage.contains("garbage-collected"))
    // a version outside the keep window is rejected by name, before
    // any filesystem read
    val unknown = intercept[IllegalArgumentException](e.tableAt(9999L))
    assert(unknown.getMessage.contains("not readable"))
    // compact is a FULL rewrite: every pre-compact version's leaves are
    // gone, so snapshot reads across the boundary fail the same loud
    // way (never a partial tree), while history names the compact
    val preCompact = e.history().last._1
    e.compact()
    assert(e.history().last._2 == "compact")
    assert(vals(e.table()) == Seq(3.0, 9.0))
    val across = intercept[IllegalStateException](e.tableAt(preCompact))
    assert(across.getMessage.contains("garbage-collected"))
  }
}
