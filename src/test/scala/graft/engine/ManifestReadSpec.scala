package graft.engine

import graft.SparkSpec
import graft.ingest.IngestPipeline

/** The manifest read path: [[Engine.table]] and [[Engine.batchSlice]]
  * list the manifest's leaf dirs on the driver and hand Spark the file
  * statuses, so a wide manifest costs no listing job and the frame is the
  * one a plain `spark.read.parquet(leaves)` builds. */
class ManifestReadSpec extends SparkSpec {

  /** 40 series on one day in one batch: 40 leaf dirs, above Spark's
    * parallel partition discovery threshold (32 paths). */
  private def wideEngine(): (Engine, Seq[String]) = {
    val e = new Engine(spark, tmpDir("graft-wide"))
    e.ingestLines((0 until 40).map(i => s"w$i,host=h$i v=$i 1700000000000000000"))
    val leaves = e.currentManifest().get._2
    assert(leaves.size == 40)
    (e, leaves)
  }

  private def tagOf(leaf: String) =
    leaf.takeWhile(_ != '/').stripPrefix("ingest_batch=")

  /** The read the manifest path replaced: Spark lists the leaf dirs. */
  private def listedRead(e: Engine, leaves: Seq[String]) =
    spark.read.schema(Engine.canonicalSchema)
      .option("basePath", e.tablePath)
      .parquet(leaves.map(l => s"${e.tablePath}/$l"): _*)

  test("table() over more than 32 leaves starts no Spark job before its " +
      "first action") {
    val (e, _) = wideEngine()
    val jobs = new JobGroups(spark)
    try {
      jobs.take()
      val t = e.table()
      t.schema
      assert(jobs.take().isEmpty, "table() launched a listing job")
      val tags = e.currentManifest().get._2.map(tagOf).distinct
      e.batchSlice(tags).schema
      assert(jobs.take().isEmpty, "batchSlice launched a listing job")
      assert(t.count() == 40)
    } finally jobs.close()
  }

  test("table() and batchSlice keep the schema, column order and rows of " +
      "the listed read") {
    val (e, leaves) = wideEngine()
    val listed = listedRead(e, leaves)
    val tags = leaves.map(tagOf).distinct
    assert(e.batchSlice(tags).schema == listed.schema)
    assert(e.batchSlice(tags).schema == Engine.canonicalSchema)
    assert(e.table().schema == listed.drop("ingest_batch").schema)
    assert(e.table().columns.toSeq == Seq("id", "time", "created_at", "name",
      "value", "value_long", "value_str", "value_bool", "tags", "series",
      "day"))
    assert(e.table().collect().toSet ==
      listed.drop("ingest_batch").collect().toSet)
    assert(e.batchSlice(tags).collect().toSet == listed.collect().toSet)
  }

  test("after a retried writeBatch, table() and batchSlice return only " +
      "the retry's rows") {
    val sp = spark
    import sp.implicits._
    def canonical(lines: String*) = IngestPipeline.canonical(
      IngestPipeline.parseAll(spark, lines.toDF("value")))
    val e = new Engine(spark, tmpDir("graft-retry"))
    e.writeBatch(canonical("r,host=a v=1 1700000000000000000",
      "r,host=b v=2 1700000001000000000"), "s7")
    assert(e.table().count() == 2)
    assert(e.batchSlice(Seq("s7")).count() == 2)
    // the retry rewrites the same leaf dir with other files and adds one
    e.writeBatch(canonical("r,host=a v=5 1700000000000000000",
      "r,host=c v=3 1700086400000000000"), "s7")
    assert(e.table().select("value").as[Double].collect().sorted.toSeq ==
      Seq(3.0, 5.0))
    assert(e.batchSlice(Seq("s7")).select("value").as[Double].collect()
      .sorted.toSeq == Seq(3.0, 5.0))
  }
}
