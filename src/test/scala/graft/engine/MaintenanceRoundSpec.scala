package graft.engine

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.SparkSpec

/** [[Engine.ingestStream]]'s maintenance round: a due slot pins the
  * manifest and starts the side-store refreshes in the background, one
  * after another under the maintenance lock; micro-batches keep
  * committing meanwhile, the barrier and stop wait for the round, and a
  * failed round fails the stream. */
class MaintenanceRoundSpec extends SparkSpec {

  private val batches = Seq(
    Seq("cpu,host=a,dc=x v=1.5 1700000000000000000",
      """log,host=a msg="alpha beta" 1700000000000000000"""),
    Seq("cpu,host=b,dc=x v=2.5 1700003600000000000",
      "cpu,host=a,dc=y v=40i 1700086400000000000",
      """log,host=b msg="alpha gamma" 1700003600000000000"""),
    Seq("mem,host=c v=7.25 1700090000000000000",
      "cpu,host=c,dc=y v=3.0 1700090000000000000",
      """log,host=c msg="delta alpha alpha" 1700090000000000000"""))

  /** A stream with every side-store hook due on every batch after the
    * first, and one hour-bucket CQ registered. */
  private def hookedStream(e: Engine): (MemoryStream[String], StreamingQuery) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sp = spark
    import sp.implicits._
    e.registerCq("hourly", "hour")
    val in = MemoryStream[String]
    val q = e.ingestStream(in.toDF().toDF("value"), tmpDir("graft-round-ckpt"),
      sketchEveryBatches = 1, tagIndexEveryBatches = 1, cqEveryBatches = 1,
      statsEveryBatches = 1, searchEveryBatches = 1)
    (in, q)
  }

  private def withTimeout[A](body: => A): A =
    Await.result(Future(body)(ExecutionContext.global), 120.seconds)

  /** A latch a round or swap parks on, and a latch it signals when it
    * got there. */
  private class Park {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def park(): Unit = {
      entered.countDown()
      release.await(120, TimeUnit.SECONDS)
      ()
    }
    def awaitEntered(): Unit =
      assert(entered.await(120, TimeUnit.SECONDS), "never parked")
  }

  /** Start `body` on its own thread and return once that thread is
    * blocked on a monitor or done. */
  private def blockedOrDone(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (t.isAlive && t.getState != Thread.State.BLOCKED &&
        System.nanoTime() < deadline) Thread.sleep(10)
    t
  }

  /** One line per single-field row; epoch second `s`. */
  private def line(host: String, v: Double, s: Long) =
    f"cpu,host=$host v=$v%.1f ${s}000000000"

  private def rows(x: Engine): Seq[String] = x.table()
    .select("series", "name", "time", "value", "value_long", "value_str",
      "tags")
    .collect().map(_.toString).toSeq.sorted

  /** Every hooked store's content, read from the store alone. */
  private def readout(x: Engine): Seq[Any] = Seq(
    x.sketchTable().selectExpr("series", "day", "n_rows",
      "hll_sketch_estimate(value_sketch)",
      "hll_sketch_estimate(tagset_sketch)").collect().toSet,
    x.histTable().collect().toSet,
    x.statsTable().collect().toSet,
    x.tagIndex().collect().toSet,
    x.cqTable("hourly").collect().toSet,
    x.searchTable().collect().toSet)

  private def refreshAll(x: Engine): Unit = {
    x.sketchRollup()
    x.histogramRollup()
    x.buildTagIndex()
    x.refreshCqs()
    x.statsRefresh()
    x.refreshSearchIndex()
  }

  /** Wait until micro-batch `id` of `q` committed. */
  private def awaitBatch(q: StreamingQuery, id: Long): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!q.recentProgress.exists(_.batchId == id) &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(q.recentProgress.exists(_.batchId == id), s"batch $id never ran")
  }

  test("a round body that asks for the table lock fails loudly instead " +
      "of deadlocking") {
    val e = new Engine(spark, tmpDir("graft-round-lock"))
    e.ingestLines(Seq("l v=1 1700000000000000000"))
    val r = withTimeout(Try(e.maintenanceRound(
      Seq("locks" -> (() => e.releaseWriterLease())))))
    val err = r.failed.get
    assert(err.isInstanceOf[IllegalStateException], err)
    assert(err.getMessage.contains("coordinator holds"), err.getMessage)
    // the coordinator released the lock: a locking call goes through
    withTimeout(e.statsRefresh())
    assert(e.statsStoreExists)
  }

  test("micro-batches commit and read back exactly while a round is " +
      "parked; the barrier then returns with the stores of the pinned " +
      "version, and the next round catches up") {
    val e = new Engine(spark, tmpDir("graft-round-park"))
    val twin = new Engine(spark, tmpDir("graft-round-park-twin"))
    twin.registerCq("hourly", "hour")
    val (in, q) = hookedStream(e)
    val round = new Park
    try {
      in.addData(batches(0): _*)
      q.processAllAvailable() // batch 0: no round
      e.roundHook = () => round.park()
      in.addData(batches(1): _*) // batch 1 pins its version and parks
      round.awaitEntered()
      twin.ingestLines(batches(0))
      twin.ingestLines(batches(1))
      refreshAll(twin) // sequential refreshes at the pinned version
      for (b <- 2 to 4) {
        val more = Seq(line(s"p$b", b + 0.5, 1700000000L + b))
        in.addData(more: _*)
        awaitBatch(q, b)
        twin.ingestLines(more)
        assert(rows(e) == rows(twin), s"batch $b")
      }
    } finally round.release.countDown()
    try {
      q.processAllAvailable()
      assert(readout(e) == readout(twin))
      assert(e.statsTable().count() > 0 && !e.searchIndexFresh,
        "the stores should hold the pinned version, behind the table")
      in.addData(line("p5", 5.5, 1700000005L))
      q.processAllAvailable() // one round folds the four batches since
      assert(e.searchIndexFresh)
      assert(e.tagIndex().filter("tag_v LIKE 'p%'").count() == 4)
      assert(e.statsTable().agg(sum("n")).head().getLong(0) ==
        e.table().filter("value IS NOT NULL OR value_long IS NOT NULL")
          .count())
    } finally q.stop()
  }

  test("a retention issued mid-round waits for the round, and the stores " +
      "then equal a from-scratch build") {
    val e = new Engine(spark, tmpDir("graft-round-retain"))
    val (in, q) = hookedStream(e)
    val round = new Park
    val retention = try {
      in.addData(batches(0): _*)
      q.processAllAvailable()
      e.roundHook = () => round.park()
      in.addData(batches(1): _*)
      round.awaitEntered()
      val t = blockedOrDone(e.applyRetention("2023-11-15"))
      assert(t.isAlive, "retention ran while the round held its pin")
      assert(e.table().filter("day = '2023-11-14'").count() == 4)
      t
    } finally round.release.countDown()
    try {
      retention.join(120000)
      assert(!retention.isAlive)
      q.processAllAvailable()
    } finally q.stop()
    assert(e.table().filter("day = '2023-11-14'").count() == 0)
    val scratch = new Engine(spark, tmpDir("graft-round-retain-scratch"))
    scratch.registerCq("hourly", "hour")
    scratch.ingestLines(batches(0) ++ batches(1))
    scratch.applyRetention("2023-11-15")
    refreshAll(scratch)
    assert(readout(e) == readout(scratch))
    assert(e.tagIndex().count() > 0 && e.cqTable("hourly").count() > 0)
  }

  test("stop() joins a parked round, which then runs no hook: no round " +
      "thread outlives stop and the stores keep their previous version") {
    val e = new Engine(spark, tmpDir("graft-round-stop"))
    val wh = new java.io.File(e.tablePath).getParentFile
    def storeFiles(): Seq[String] = Seq("sketch_daily", "hist_daily",
        "tag_index", "stats_daily", "search_index", "cq")
      .map(new java.io.File(wh, _).toPath)
      .filter(java.nio.file.Files.exists(_))
      .flatMap(r => scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.walk(r).iterator()).asScala
        .map(f => s"$f ${f.toFile.length} ${f.toFile.lastModified}"))
      .sorted
    val (in, q) = hookedStream(e)
    val round = new Park
    in.addData(batches(0): _*)
    q.processAllAvailable()
    in.addData(batches(1): _*)
    q.processAllAvailable() // a round built every store
    val before = storeFiles()
    assert(before.exists(_.contains("REGISTRY")))
    e.roundHook = () => round.park()
    in.addData(batches(2): _*)
    round.awaitEntered()
    val stopper = new Thread(() => q.stop())
    try {
      stopper.start()
      stopper.join(1000)
      assert(stopper.isAlive, "stop() returned while its round was parked")
    } finally round.release.countDown()
    stopper.join(120000)
    assert(!stopper.isAlive && !q.isActive)
    val roundThreads = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread])
      .filter(t => t.isAlive && t.getName.contains(e.tablePath))
    assert(roundThreads.isEmpty, roundThreads.map(_.getName).toSeq)
    assert(storeFiles() == before)
    Thread.sleep(500)
    assert(storeFiles() == before)
  }

  test("a reader restoring .old while a swap is parked between its " +
      "renames leaves the store intact") {
    val e = new Engine(spark, tmpDir("graft-round-swap"))
    val wh = e.tablePath.stripSuffix("/measurements")
    e.ingestLines(batches(0))
    e.statsRefresh()
    val old = e.statsTable().collect().toSet
    e.ingestLines(batches(1))
    val swap = new Park
    e.swapHook = p => if (p.endsWith("/stats_daily")) swap.park()
    val refresh = Future(e.statsRefresh())(ExecutionContext.global)
    var read: Set[org.apache.spark.sql.Row] = null
    try {
      swap.awaitEntered()
      assert(new java.io.File(s"$wh/stats_daily.old").isDirectory)
      assert(!new java.io.File(s"$wh/stats_daily").exists)
      val reader = blockedOrDone { read = e.statsTable().collect().toSet }
      swap.release.countDown()
      reader.join(120000)
    } finally {
      swap.release.countDown()
      Await.result(refresh, 120.seconds)
      e.swapHook = _ => ()
    }
    assert(read != null && (read == old || read == e.statsTable().collect().toSet))
    assert(!new java.io.File(s"$wh/stats_daily.old").exists)
    assert(!new java.io.File(s"$wh/stats_daily/stats_daily.staging").exists)
    val folded = e.statsTable().collect().toSet
    assert(e.stats("cpu", "v").count() == 2, folded)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$wh/stats_daily"), true)
    e.statsRefresh()
    assert(e.statsTable().collect().toSet == folded)
  }

  test("with every hook due, the stores equal sequential refreshes on a " +
      "twin warehouse") {
    val e = new Engine(spark, tmpDir("graft-round"))
    val twin = new Engine(spark, tmpDir("graft-round-twin"))
    twin.registerCq("hourly", "hour")
    val (in, q) = hookedStream(e)
    try {
      for ((lines, i) <- batches.zipWithIndex) {
        in.addData(lines: _*)
        q.processAllAvailable()
        twin.ingestLines(lines)
        if (i > 0) {
          twin.sketchRollup()
          twin.histogramRollup()
          twin.buildTagIndex()
          twin.refreshCqs()
          twin.statsRefresh()
          twin.refreshSearchIndex()
        }
      }
    } finally q.stop()
    for (s <- Seq("cpu", "mem", "log")) {
      assert(e.approxDistinct(s, "2023-11-14", "2023-11-16").collect().toSeq ==
        twin.approxDistinct(s, "2023-11-14", "2023-11-16").collect().toSeq, s)
      assert(e.stats(s, "v").collect().toSeq == twin.stats(s, "v").collect().toSeq,
        s)
    }
    assert(e.approxQuantiles("cpu", "v", "2023-11-14", "2023-11-16")
      .collect().toSeq ==
      twin.approxQuantiles("cpu", "v", "2023-11-14", "2023-11-16")
        .collect().toSeq)
    assert(e.stats("cpu", "v").count() == 2) // both days folded
    assert(e.tagIndex().collect().toSet == twin.tagIndex().collect().toSet)
    assert(e.tagIndex().count() > 0)
    assert(e.cqTable("hourly").collect().toSet ==
      twin.cqTable("hourly").collect().toSet)
    assert(e.cqTable("hourly").count() > 0)
    for (term <- Seq("alpha", "gamma", "delta")) {
      assert(e.search(Seq(term)) == twin.search(Seq(term)), term)
    }
    assert(e.search(Seq("alpha")).length == 3)
  }

  test("a failing hook fails the micro-batch after the other hooks " +
      "finished") {
    val e = new Engine(spark, tmpDir("graft-round-fail"))
    val wh = e.tablePath.stripSuffix("/measurements")
    val (in, q) = hookedStream(e)
    try {
      in.addData(batches(0): _*)
      q.processAllAvailable()
      in.addData(batches(1): _*)
      q.processAllAvailable() // the round built every store
      // corrupt the stats store's ledger: its next refresh fails on
      // the read, before any other hook is done
      val ledger = new java.io.File(s"$wh/stats_daily/REGISTRY")
      assert(ledger.isFile)
      java.nio.file.Files.writeString(ledger.toPath, "not a ledger")
      // drop the checksum, so the read reaches the ledger parser
      java.nio.file.Files.delete(
        new java.io.File(ledger.getParentFile, ".REGISTRY.crc").toPath)
      in.addData("cpu,host=zz v=9.0 1700000000000000000",
        """log,host=zz msg="omega" 1700000000000000000""")
      // the barrier rethrows the round's error, and the next micro-batch
      // fails the stream with it before writing
      val err = intercept[java.io.IOException](q.processAllAvailable())
      assert(err.getMessage.contains("unreadable ledger line"), err)
      in.addData("cpu,host=yy v=1.0 1700000000000000000")
      val failed = intercept[StreamingQueryException](q.processAllAvailable())
      assert(Iterator.iterate[Throwable](failed)(_.getCause)
        .takeWhile(_ != null).contains(err), failed)
    } finally q.stop()
    assert(e.table().filter("tags['host'] = 'yy'").count() == 0)
    // the other hooks of the failed round ran to the end
    assert(e.tagIndex().filter("tag_v = 'zz'").count() == 2) // cpu, log
    assert(e.approxDistinct("cpu", "2023-11-14", "2023-11-14").head()
      .getLong(0) == 3L)
    assert(e.search(Seq("omega")).length == 1)
  }

  test("hook jobs carry the stream's job group") {
    val e = new Engine(spark, tmpDir("graft-round-group"))
    val (in, q) = hookedStream(e)
    val jobs = new JobGroups(spark)
    try {
      in.addData(batches(0): _*)
      q.processAllAvailable()
      jobs.take()
      in.addData(batches(1): _*)
      q.processAllAvailable() // a round of every hook
      val groups = jobs.take()
      assert(groups.size > 10, groups)
      assert(groups.toSet == Set(q.runId.toString), groups.toSet)
      assert(e.statsStoreExists && e.tagIndex().count() > 0)
    } finally {
      jobs.close()
      q.stop()
    }
  }
}
