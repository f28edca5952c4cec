package graft.engine

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every registered side store follows every table mutation: after an
  * appended batch, a merge, a retention cut, a series drop, a compaction
  * and the crash replays of a journaled drop and retention, each store's
  * readout equals a build from scratch over the same table (the search
  * store's refresh ≡ rebuild gate, generalized). For the tag index,
  * [[Engine.queryByTag]] must also equal a direct scan. The CQ targets
  * are read after their own incremental refresh, which is what the merge
  * contract promises for touched slices. */
class SideStoreSpec extends SparkSpec {

  private val d0 = 1699920000L * 1000000000L // 2023-11-14T00:00Z, ns
  private val hourNs = 3600L * 1000000000L
  private def ts(day: Int, hour: Int): Long = d0 + (day * 24L + hour) * hourNs
  private val day1 = "2023-11-15"

  private val words = Seq("alpha beta", "beta gamma", "gamma alpha", "delta")
  private val values: Map[String, Int => Double] = Map(
    "a" -> (h => h + 1.0), "b" -> (h => 2.0 * h + 1), "c" -> (h => 4.0 - h))

  /** One day of a / b / c at hours 0..3: a numeric field, a text field
    * and a host tag; day 1 also carries a one-row series `d`. */
  private def dayLines(day: Int): Seq[String] =
    (for ((s, f) <- values.toSeq.sortBy(_._1); h <- 0 to 3) yield
      s"""$s,host=h${h % 2 + 1} v=${f(h)},doc="${words(h)} $s" """ +
        ts(day, h)) ++
      (if (day == 1) Seq(s"d,host=h3 v=5.0 ${ts(1, 0)}") else Nil)

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every store's ordinary maintenance call. */
  private def maintain(e: Engine): Unit = {
    e.sketchRollup(); e.histogramRollup(); e.statsRefresh()
    e.buildSimilarityIndex(); e.refreshSearchIndex(); e.buildTagIndex()
    e.refreshCqs()
  }

  /** Two ingest batches, every store built after the first and brought
    * up to date after the second by its ordinary maintenance call. */
  private def fixture(tag: String): (Engine, String) = {
    val wh = tmpDir(tag)
    val e = new Engine(spark, wh)
    e.ingestLines(dayLines(0))
    e.registerCq("hourly", "hour")
    maintain(e)
    e.ingestLines(dayLines(1))
    maintain(e)
    (e, wh)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** A store's readout and its from-scratch counterpart. */
  private case class StoreCase(name: String, readout: Engine => Seq[String],
      scratch: (Engine, String) => Seq[String])

  /** HLL sketches compare by their estimates. */
  private def sketchRows(e: Engine): Seq[String] =
    rows(e.sketchTable().select(col("series"), col("day"), col("n_rows"),
      hll_sketch_estimate(col("value_sketch")),
      hll_sketch_estimate(col("tagset_sketch"))))

  /** A from-scratch build: the store's directory deleted, then `build`. */
  private def scratch(wh: String, store: String)(build: => Unit): Unit = {
    fs.delete(new Path(s"$wh/$store"), true)
    build
  }

  private def tagRows(e: Engine): Seq[String] =
    rows(e.queryByTag("host", "h1")) ++ rows(e.tagIndex())

  private val cases = Seq(
    StoreCase("sketch_daily", sketchRows,
      (e, wh) => {
        scratch(wh, "sketch_daily")(e.sketchRollup())
        sketchRows(e)
      }),
    StoreCase("hist_daily", e => rows(e.histTable()),
      (e, wh) => {
        scratch(wh, "hist_daily")(e.histogramRollup())
        rows(e.histTable())
      }),
    StoreCase("stats_daily", e => rows(e.statsTable()),
      (e, wh) => {
        scratch(wh, "stats_daily")(e.statsRefresh())
        rows(e.statsTable())
      }),
    StoreCase("similar_index", e => rows(e.similarTable()),
      (e, _) => { e.buildSimilarityIndex(); rows(e.similarTable()) }),
    StoreCase("search_index", e => rows(e.searchTable()),
      (e, _) => { e.buildSearchIndex(); rows(e.searchTable()) }),
    StoreCase("tag_index", tagRows,
      (e, wh) => rows(e.table().filter(col("tags")("host") === "h1")) ++ {
        scratch(wh, "tag_index")(e.buildTagIndex())
        rows(e.tagIndex())
      }),
    StoreCase("cq", e => { e.refreshCqs(); rows(e.cqTable("hourly")) },
      (e, _) => {
        e.registerCq("scratch", "hour")
        e.refreshCq("scratch")
        rows(e.cqTable("scratch"))
      }))

  private def journal(e: Engine, line: String): Unit = {
    val out = fs.create(new Path(e.maintJournalPath), true)
    out.write(line.getBytes(UTF_8))
    out.close()
  }

  private val events: Seq[(String, Engine => Unit)] = Seq(
    // a new day, plus a late row (with a new tag value) into the
    // existing (a, day 1) slice, folded by each store's ordinary refresh
    "append" -> (e => {
      e.ingestLines(dayLines(2) :+
        s"""a,host=h4 v=9.5,doc="late alpha" ${ts(1, 5)}""")
      maintain(e)
    }),
    // updates a value (and its tag), rewrites a document, and deletes
    // d's only row, which empties the (d, day 1) slice
    "merge" -> (e => e.mergeLines(Seq(
      s"U a,host=h1 v=40.5 ${ts(0, 1)}",
      s"""U b,host=h2 doc="omega" ${ts(1, 2)}""",
      s"D d v=0 ${ts(1, 0)}"))),
    "retention" -> (e => e.applyRetention(day1)),
    "drop" -> (e => e.dropSeries("b")),
    "compact" -> (e => e.compact()),
    // the crash state: intent journaled, nothing else done; the next
    // read replays the whole idempotent tail
    "replay of a journaled drop" -> (e => {
      journal(e, "op\tdrop\t" +
        java.util.Base64.getEncoder.encodeToString("b".getBytes(UTF_8)))
      assert(!e.listSeries().contains("b"), "replay did not drop b")
    }),
    "replay of a journaled retention" -> (e => {
      journal(e, s"op\tretention\t$day1")
      assert(e.table().filter(col("day") < day1).isEmpty,
        "replay did not expire day 0")
    }))

  private val after = mutable.Map.empty[String, (Engine, String)]

  test("the spec covers every registered side store") {
    val e = new Engine(spark, tmpDir("graft-sidestore-registry"))
    assert(cases.map(_.name).toSet == e.sideStores.map(_.name).toSet)
  }

  for ((event, apply) <- events; c <- cases)
    test(s"${c.name} after $event equals a from-scratch build") {
      val (e, wh) = after.getOrElseUpdate(event, {
        val (e, wh) = fixture(s"graft-sidestore-${event.take(6)}")
        apply(e)
        (e, wh)
      })
      val got = c.readout(e)
      assert(got.nonEmpty, s"${c.name}: empty readout proves nothing")
      val want = c.scratch(e, wh)
      assert(got == want,
        s"${c.name} after $event diverged from a from-scratch build:\n" +
          s"  got  ${got.mkString("\n       ")}\n" +
          s"  want ${want.mkString("\n       ")}")
    }

  private def get(url: String): (Int, String) = {
    val con = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    val code = con.getResponseCode
    val is = if (code < 400) con.getInputStream else con.getErrorStream
    (code, new String(is.readAllBytes(), UTF_8))
  }

  /** A small similarity-only warehouse: a / b / c over two days. */
  private def similarFixture(tag: String): Engine = {
    val e = new Engine(spark, tmpDir(tag))
    e.ingestLines(for ((s, f) <- values.toSeq; d <- 0 to 1; h <- 0 to 3)
      yield s"$s v=${f(h) + d} ${ts(d, h)}")
    e.buildSimilarityIndex()
    e
  }

  test("similar_index follows drop, retention and merge: a dropped " +
      "series stops being a neighbor (engine and GET /similar) and the " +
      "stored cosines stop counting expired or replaced hours") {
    val e = similarFixture("graft-similar-drop")
    assert(e.similar("a", "v").map(_._2).contains("b"), "fixture: b")
    e.dropSeries("b")
    assert(!e.similar("a", "v").map(_._2).contains("b"),
      s"dropped b still a neighbor: ${e.similar("a", "v")}")
    val api = new ApiServer(e).start()
    try {
      val (code, body) =
        get(s"http://127.0.0.1:${api.boundPort}/similar/a?name=v")
      assert(code == 200 && !body.contains("\"series\":\"b\""),
        s"GET /similar still lists b: $code $body")
    } finally api.stop()

    def rebuiltEquals(e: Engine): Unit = {
      val stored = e.similar("a", "v", 20)
      e.buildSimilarityIndex()
      assert(stored == e.similar("a", "v", 20),
        s"stored cosines are stale: $stored vs ${e.similar("a", "v", 20)}")
    }
    val r = similarFixture("graft-similar-retention")
    r.applyRetention(day1)
    rebuiltEquals(r)
    val m = similarFixture("graft-similar-merge")
    m.mergeLines(Seq(s"U c v=9.5 ${ts(1, 2)}", s"D b v=0 ${ts(0, 3)}"))
    rebuiltEquals(m)
  }

  test("vacuum sweeps every registered store's orphaned swap state and " +
      "counts it") {
    val wh = tmpDir("graft-sidestore-vacuum")
    val e = new Engine(spark, wh)
    e.ingestLines(dayLines(0))
    e.statsRefresh()
    e.registerCq("hourly", "hour")
    val orphans = Seq("stats_daily.staging", "stats_daily.old",
      "similar_index.staging", "cq/_catalog.staging")
    orphans.foreach(o => fs.create(new Path(s"$wh/$o/part"), true).close())
    assert(e.vacuum() == orphans.size)
    orphans.foreach(o => assert(!fs.exists(new Path(s"$wh/$o")),
      s"$o survived vacuum"))
    // the live copies beside the swept orphans are untouched
    assert(e.statsStoreExists && e.cqCatalog() == Seq("hourly" -> "hour"))
  }
}
