package graft.engine

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.SparkSpec

/** [[Engine.ingestStream]]'s maintenance round: a due slot's side-store
  * refreshes run concurrently under one table-lock hold, finish before
  * the batch does, and fail it together. */
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

  test("a round's hooks run concurrently") {
    val e = new Engine(spark, tmpDir("graft-round-overlap"))
    e.ingestLines(Seq("o v=1 1700000000000000000"))
    val latch = new CountDownLatch(2)
    val met = new AtomicInteger
    def meet(): Unit = {
      latch.countDown()
      if (latch.await(60, TimeUnit.SECONDS)) met.incrementAndGet()
    }
    withTimeout(e.maintenanceRound(Seq("a" -> (() => meet()),
      "b" -> (() => meet()))))
    assert(met.get == 2, "the two hooks never ran at the same time")
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
      intercept[StreamingQueryException](q.processAllAvailable())
    } finally q.stop()
    // the other hooks of the failed batch's round ran to the end first
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
