package graft.engine

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The inverted tag index must make tag-filtered queries prune the
  * partitioned scan statically — only the (series, day) partitions the
  * index lists for the tag are touched (InfluxDB series-index parity, as
  * partition pruning).
  */
class TagIndexSpec extends SparkSpec {

  test("queryByTag scans only the partitions the index lists for the tag") {
    val e = new Engine(spark, tmpDir("graft-tagidx"))
    e.ingestLines(Seq(
      // host=web1 lives ONLY in (cpu, 2023-11-14)
      "cpu,host=web1 v=1.0 1700000000000000000",
      "cpu,host=web2 v=2.0 1700086400000000000", // cpu, 2023-11-15
      "mem,host=web2 v=3.0 1700000000000000000", // mem, 2023-11-14
      "mem,host=web3 v=4.0 1700086400000000000")) // mem, 2023-11-15
    e.buildTagIndex()

    // correctness: exactly the web1 row, through the index path
    val rows = e.queryByTag("host", "web1").collect()
    assert(rows.length == 1 && rows.head.getAs[Double]("value") == 1.0)

    // plan shape: the measurements scan carries partition filters and
    // selects exactly ONE (series, day) partition of the four
    val q = e.queryByTag("host", "web1")
    val scans = q.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("measurements")) => f
    }
    assert(scans.nonEmpty, "no measurements file scan found")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      s"tag lookup did not become partition filters:\n$scan")
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
    assert(selected.length == 1,
      s"expected 1 pruned partition, got ${selected.length}")

    // a tag value the index does not know: empty, still no full scan
    assert(e.queryByTag("host", "nope").isEmpty)

    // the index itself prunes on its tag_k partition when probed
    val idxScan = e.tagIndex().filter(col("tag_k") === "host")
      .queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    assert(idxScan.head.partitionFilters.nonEmpty)
  }

  test("queryByTag falls back to a direct scan when the index is absent " +
      "or predates this JVM's writes (no silently hidden rows)") {
    val e = new Engine(spark, tmpDir("graft-qbt-fallback"))
    e.ingestLines(Seq("qb,host=a v=1 1700000000000000000"))
    // index never built: the fallback scan still answers
    assert(e.queryByTag("host", "a").count() == 1)
    e.buildTagIndex()
    assert(e.queryByTag("host", "a").count() == 1)
    // ingest AFTER the build: the index is knowably stale — the round-5
    // behavior silently returned empty for host=b; the fallback serves it
    e.ingestLines(Seq("qb,host=b v=2 1700000001000000000"))
    assert(e.queryByTag("host", "b").count() == 1)
    // rebuilding restores the pruned fast path with the same answer
    e.buildTagIndex()
    assert(e.queryByTag("host", "b").count() == 1)
    assert(e.tagIndex().filter(col("tag_v") === "b").count() == 1)
  }

  test("streaming ingest rebuilds the tag index in its maintenance slot " +
      "(tagIndexEveryBatches) so queryByTag stays fresh and pruned") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = new Engine(spark, tmpDir("graft-sti"))
    val in = MemoryStream[String]
    val q = e.ingestStream(in.toDF().toDF("value"),
      tmpDir("graft-sti-ckpt"), tagIndexEveryBatches = 1)
    try {
      in.addData("ti,host=a v=1 1700000000000000000")
      q.processAllAvailable() // batch 0: no hook yet — fallback answers
      assert(e.queryByTag("host", "a").count() == 1)
      in.addData("ti,host=b v=2 1700000001000000000")
      q.processAllAvailable() // batch 1: hook rebuilt the index
      assert(e.tagIndex().filter(col("tag_v") === "b").count() == 1,
        "maintenance hook did not rebuild the index")
      assert(e.queryByTag("host", "b").count() == 1)
      assert(e.queryByTag("host", "a").count() == 1)
    } finally q.stop()
  }

  test("SHOW TAG KEYS / VALUES answer from the index when built, from a " +
      "read-only scan otherwise (reads never take the writer lease)") {
    val e = new Engine(spark, tmpDir("graft-showtags"))
    e.ingestLines(Seq(
      "cpu,host=web1,region=eu v=1.0 1700000000000000000",
      "mem,host=web2 v=2.0 1700000000000000000"))
    // no buildTagIndex() call: the scan fallback answers, and being a
    // READ it must not create/steal the warehouse writer lease — prove it
    // by making the lease foreign first (reads stay available)
    e.releaseWriterLease()
    val leaseFile = new java.io.File(s"${e.tablePath}.writer.lock")
    java.nio.file.Files.deleteIfExists(new java.io.File(
      leaseFile.getParentFile, s".${leaseFile.getName}.crc").toPath)
    java.nio.file.Files.writeString(leaseFile.toPath, "other-jvm-0000")
    assert(e.tagKeys() == Seq("host", "region"))
    e.breakWriterLease() // restore for the index build below
    e.buildTagIndex()
    assert(e.tagKeys() == Seq("host", "region")) // index-backed now
    assert(e.tagKeys(Some("mem")) == Seq("host"))
    assert(e.tagValues("host") == Seq("web1", "web2"))
    assert(e.tagValues("region") == Seq("eu"))
    assert(e.tagValues("nope").isEmpty)
  }

  test("tag metadata follows drops and retention: a value only deleted " +
      "rows carried leaves SHOW TAG VALUES") {
    val e = new Engine(spark, tmpDir("graft-tagmeta-delete"))
    e.ingestLines(Seq(
      "keep,host=z v=1.0 1700086400000000000", // keep, 2023-11-15
      "gone,host=x v=2.0 1700086400000000000", // only series gone has x
      "keep,host=y v=3.0 1700000000000000000")) // only 2023-11-14 has y
    e.buildTagIndex()
    assert(e.tagValues("host") == Seq("x", "y", "z"))
    e.dropSeries("gone")
    e.applyRetention("2023-11-15")
    assert(e.tagValues("host") == Seq("z"),
      s"deleted rows' tag values still listed: ${e.tagValues("host")}")
    assert(e.tagKeys(Some("gone")).isEmpty)
  }
}
