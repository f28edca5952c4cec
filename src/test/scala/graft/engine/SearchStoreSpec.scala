package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The search store's round-15 contract: incremental refresh ≡ rebuild
  * (store-plus-delta — only unseen batches re-tokenize), a writeVersion
  * staleness guard whose direct-scan fallback is result-identical, and
  * the dependent-store discipline under MERGE / dropSeries / retention
  * (round-14 VERDICT #1/#2). Plus the Unicode tokenizer fixture
  * (VERDICT #3): non-Latin documents are findable. */
class SearchStoreSpec extends SparkSpec {

  private val base = 1700000000000000000L // 2023-11-14, ns
  private val day2 = base + 86400L * 3 * 1000000000L // 2023-11-17

  private def fresh(tag: String, lines: Seq[String]): Engine = {
    val e = new Engine(spark, tmpDir(tag))
    val (ok, err) = e.ingestLines(lines)
    assert(err == 0 && ok == lines.length, s"fixture: ok=$ok err=$err")
    e
  }

  private def rows(df: DataFrame): Seq[(String, String, Long, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq

  /** All FileSourceScanExec root paths of a frame's spark plan. */
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("refreshSearchIndex ≡ buildSearchIndex: folding a second batch " +
      "incrementally lands the exact store a from-scratch rebuild " +
      "lands, including tf-additivity for a doc cell spanning batches") {
    val e = fresh("graft-search-refresh", Seq(
      s"""sa doc="alpha beta" $base""",
      s"""sb doc="alpha alpha" ${base + 1000000000L}"""))
    e.buildSearchIndex()
    // second batch: a NEW doc cell plus MORE text on sa's existing cell
    // (same series/field/timestamp — the cells concatenate, so its tf
    // partials must SUM across the two batches)
    val (ok, err) = e.ingestLines(Seq(
      s"""sc doc="beta gamma" ${base + 2000000000L}""",
      s"""sa doc="alpha delta" $base"""))
    assert(ok == 2 && err == 0)
    e.refreshSearchIndex()
    def proj(df: DataFrame) = df.collect().map(_.toSeq.toList).toSet
    val incrementalPostings = proj(e.searchTable())
    val incrementalHits = rows(e.searchFrame(Seq("alpha", "beta"), 10))
    e.buildSearchIndex() // from-scratch rebuild over the same corpus
    assert(proj(e.searchTable()) == incrementalPostings,
      "incremental postings diverged from a from-scratch rebuild")
    assert(rows(e.searchFrame(Seq("alpha", "beta"), 10)) ==
      incrementalHits, "served ranking diverged")
    // the spanning cell concatenated: sa's doc is 4 tokens, alpha tf=2
    val sa = e.searchTable().filter(col("series") === "sa" &&
      col("tk") === "alpha").select(col("tf"), col("dl")).head()
    assert(sa.getLong(0) == 2L && sa.getLong(1) == 4L,
      s"cross-batch cell did not concatenate: $sa")
  }

  test("a stale store routes searchFrame to the direct-scan fallback " +
      "(result-identical, new docs visible) and a refresh routes it " +
      "back to the store-only plan") {
    val e = fresh("graft-search-stale", Seq(
      s"""sa doc="alpha beta" $base"""))
    e.buildSearchIndex()
    assert(e.searchIndexFresh)
    assert(scanPaths(e.searchFrame(Seq("alpha"), 5))
      .forall(_.contains("search_index")), "fresh store must serve reads")
    // ingest AFTER the build: the store is now stale — serving from it
    // would hide sb
    e.ingestLines(Seq(s"""sb doc="alpha alpha" ${base + 1000000000L}"""))
    assert(!e.searchIndexFresh)
    val stale = e.searchFrame(Seq("alpha"), 5)
    assert(scanPaths(stale).exists(_.contains("measurements")),
      "stale read must fall back to the fact table")
    val hits = rows(stale)
    assert(hits.map(_._1) == Seq("sb", "sa"),
      s"fallback must see the new doc ranked first (tf=2): $hits")
    e.refreshSearchIndex()
    assert(e.searchIndexFresh)
    val fresh0 = e.searchFrame(Seq("alpha"), 5)
    assert(scanPaths(fresh0).forall(_.contains("search_index")),
      "refreshed store must serve store-only again")
    assert(rows(fresh0) == hits,
      "store-path ranking diverged from the fallback ranking")
  }

  test("mergeBatch keeps the search store consistent: updated docs rank " +
      "under their NEW text, deleted docs stop ranking, and the store " +
      "stays FRESH (no fallback) because the reconcile refreshed it") {
    val sp = spark
    import sp.implicits._
    val e = fresh("graft-search-merge", Seq(
      s"""sa doc="alpha beta" $base""",
      s"""sb doc="alpha alpha" ${base + 1000000000L}""",
      s"""sc doc="beta gamma" ${base + 2000000000L}"""))
    e.buildSearchIndex()
    val tsOf = (ns: Long) => java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(ns / 1000000000L,
        ns % 1000000000L))
    // U: sb's doc re-texts to "gamma gamma"; D: sc's doc dies
    e.mergeBatch(Seq(
      ("U", "sb", "doc", tsOf(base + 1000000000L), Option("gamma gamma")),
      ("D", "sc", "doc", tsOf(base + 2000000000L), Option.empty[String]))
      .toDF("op", "series", "name", "time", "value_str")
      .withColumn("value", lit(null).cast("double"))
      .withColumn("value_long", lit(null).cast("long"))
      .withColumn("value_bool", lit(null).cast("boolean"))
      .withColumn("tags", map().cast("map<string,string>")))
    assert(e.searchIndexFresh,
      "merge must refresh the search store, not leave it stale")
    val q = e.searchFrame(Seq("alpha"), 5)
    assert(scanPaths(q).forall(_.contains("search_index")),
      "post-merge serving must stay store-only")
    assert(rows(q).map(_._1) == Seq("sa"),
      s"sb's old text must stop matching alpha: ${rows(q)}")
    val g = rows(e.searchFrame(Seq("gamma"), 5))
    assert(g.map(_._1) == Seq("sb"),
      s"updated sb must rank under its new text, deleted sc must not: $g")
  }

  test("dropSeries and applyRetention prune their documents from the " +
      "search store and leave it fresh") {
    val e = fresh("graft-search-drop", Seq(
      s"""sa doc="alpha beta" $base""",
      s"""sb doc="alpha gamma" $day2"""))
    e.buildSearchIndex()
    assert(e.dropSeries("sa"))
    assert(e.searchIndexFresh, "dropSeries must refresh the store")
    assert(rows(e.searchFrame(Seq("alpha"), 5)).map(_._1) == Seq("sb"),
      "dropped series still answering /search")
    assert(e.applyRetention("2023-11-18") == 1L) // expires sb's day
    assert(e.searchIndexFresh, "retention must refresh the store")
    assert(rows(e.searchFrame(Seq("alpha"), 5)).isEmpty,
      "expired documents still answering /search")
  }

  test("a layout rewrite cannot poison a keep-pruned refresh: compact " +
      "refreshes the search store eagerly, and the no-overlap guard " +
      "rebuilds from scratch instead of double-counting stale partials") {
    val wh = tmpDir("graft-search-compact")
    val e = new Engine(spark, wh)
    val (ok, err) = e.ingestLines(Seq(
      s"""sa doc="alpha beta" $base""",
      s"""sb doc="alpha gamma" $day2"""))
    assert(ok == 2 && err == 0)
    e.buildSearchIndex()
    val before = rows(e.searchFrame(Seq("alpha"), 5))
    e.compact() // rewrites every batch tag → manifest would be orphaned
    assert(e.searchIndexFresh,
      "compact must refresh the search store eagerly (the stats posture)")
    assert(rows(e.searchFrame(Seq("alpha"), 5)) == before,
      "compact changed the served ranking")
    // manufacture the orphaned-registry state a compact that died
    // before its catch-up would leave: the folded leaves name a batch
    // no longer on disk, ZERO overlap with the current layout (segment
    // lines preserved — only the leaf set is poisoned)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val regPath = new org.apache.hadoop.fs.Path(s"$wh/search_index/REGISTRY")
    val regIn = fs.open(regPath)
    val regLines = scala.io.Source.fromInputStream(regIn, "UTF-8")
      .getLines().toList
    regIn.close()
    val poisoned = regLines.map(l =>
      if (l.startsWith("leaf\t")) l.replaceFirst(
        "^leaf\tingest_batch=[^/]*/", "leaf\tingest_batch=b-vanished/")
      else l)
    assert(poisoned.exists(_.startsWith("leaf\tingest_batch=b-vanished/")))
    val regOut = fs.create(regPath, true)
    regOut.write(poisoned.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    regOut.close()
    // the retention's catch-up must drop every slice the vanished
    // leaves name and refold their live leaves — keeping those partials
    // would union them with a FULL re-tokenized delta and double every tf
    assert(e.applyRetention("2023-11-15") == 1L) // sa's day expires
    val tfs = e.searchTable()
      .select(col("series"), col("tk"), col("tf"), col("dl"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(tfs == Set(("sb", "alpha", 1L, 2L), ("sb", "gamma", 1L, 2L)),
      s"stale partials double-counted (or wrong survivors): $tfs")
    assert(rows(e.searchFrame(Seq("alpha"), 5)).map(_._1) == Seq("sb"))
  }

  test("cross-restart staleness: a fresh engine instance VERIFIES the " +
      "disk store's manifest against the on-disk batches — a store a " +
      "previous process left behind without refreshing routes to the " +
      "fallback instead of silently hiding the unfolded tail") {
    val wh = tmpDir("graft-search-restart")
    val e1 = new Engine(spark, wh)
    e1.ingestLines(Seq(s"""sa doc="alpha beta" $base"""))
    e1.buildSearchIndex()
    e1.releaseWriterLease()
    // a restarted process over a store that DOES cover everything:
    // trusted, store-only serving
    val e2 = new Engine(spark, wh)
    assert(e2.searchIndexFresh,
      "restart must trust a store whose manifest covers all batches")
    assert(scanPaths(e2.searchFrame(Seq("alpha"), 5))
      .forall(_.contains("search_index")))
    // the writer ingests more and dies WITHOUT refreshing…
    e1.ingestLines(Seq(s"""sb doc="alpha alpha" ${base + 1000000000L}"""))
    e1.releaseWriterLease()
    // …a fresh restart must NOT trust the store (manifest misses the
    // new batch): the guard routes to the fact-table fallback, which
    // sees the unfolded doc
    val e3 = new Engine(spark, wh)
    assert(!e3.searchIndexFresh,
      "restart trusted a store missing an on-disk batch")
    val hits = rows(e3.searchFrame(Seq("alpha"), 5))
    assert(hits.map(_._1) == Seq("sb", "sa"),
      s"restart fallback hid the unfolded batch: $hits")
    // refresh folds the tail; the store serves again
    e3.refreshSearchIndex()
    assert(e3.searchIndexFresh)
    assert(rows(e3.searchFrame(Seq("alpha"), 5)) == hits)
    e3.releaseWriterLease()
  }

  test("the store is SEGMENTED (round-15 VERDICT #4): a refresh APPENDS " +
      "one delta-sized segment instead of rewriting the index; serving " +
      "merges-on-read exactly; past the segment bound the refresh " +
      "compacts back to one segment") {
    val e = fresh("graft-search-seg", Seq(
      s"""sa doc="alpha beta" $base"""))
    val segRoot = new java.io.File(
      e.tablePath.stripSuffix("/measurements") + "/search_index/segments")
    def segCount: Int = segRoot.listFiles()
      .count(f => f.isDirectory && !f.getName.endsWith(".staging"))
    e.buildSearchIndex()
    assert(segCount == 1, s"build must land one segment, got $segCount")
    for (i <- 1 to 7) {
      val (ok, _) = e.ingestLines(Seq(
        s"""s$i doc="alpha tok$i" ${base + i * 1000000000L}"""))
      assert(ok == 1)
      e.refreshSearchIndex()
      assert(segCount == 1 + i,
        s"refresh $i must APPEND a segment (got $segCount)")
    }
    // serving at 8 segments merges-on-read across all of them: every
    // alpha doc ranks (multi-segment equivalence-to-rebuild is pinned
    // by the refresh≡rebuild test and the q_search_refresh oracle)
    val hits8 = rows(e.searchFrame(Seq("alpha"), 10))
    assert(hits8.length == 8 && hits8.map(_._1).toSet ==
      (Set("sa") ++ (1 to 7).map("s" + _)),
      s"8-segment serving missed docs: $hits8")
    // one more refresh crosses searchMaxSegments → compaction to 1
    e.ingestLines(Seq(s"""s8 doc="alpha tok8" ${base + 8000000000L}"""))
    e.refreshSearchIndex()
    assert(segCount == 1,
      s"refresh past the bound must compact to one segment, got $segCount")
    // the compacted store ≡ a from-scratch rebuild over the same corpus
    def proj(df: DataFrame) = df.collect().map(_.toSeq.toList).toSet
    val hitsC = rows(e.searchFrame(Seq("alpha"), 10))
    val logicalC = proj(e.searchTable())
    e.buildSearchIndex()
    assert(rows(e.searchFrame(Seq("alpha"), 10)) == hitsC,
      "compacted serving diverged from a from-scratch rebuild")
    assert(proj(e.searchTable()) == logicalC,
      "compacted logical postings diverged from a rebuild")
  }

  test("scoped search is a candidate FILTER with GLOBAL statistics: a " +
      "series/time-scoped read returns exactly the matching rows of the " +
      "unscoped ranking, scores unchanged (no per-scope re-weighting)") {
    val e = fresh("graft-search-scope", Seq(
      s"""sa doc="alpha beta" $base""",
      s"""sb doc="alpha alpha" ${base + 1000000000L}""",
      s"""sc doc="alpha gamma" $day2"""))
    e.buildSearchIndex()
    val all = rows(e.searchFrame(Seq("alpha", "beta"), 10))
    assert(all.map(_._1).toSet == Set("sa", "sb", "sc"))
    // series scope: exactly the sb row of the global ranking
    val bySeries = rows(e.searchFrame(Seq("alpha", "beta"), 10,
      Some("sb"), None, None))
    assert(bySeries == all.filter(_._1 == "sb"),
      s"series scope changed scores: $bySeries vs $all")
    // time scope: day-1 docs only (sa, sb), scores identical to global
    val dayOneEnd = (base / 1000L) + 86400L * 1000000L
    val byTime = rows(e.searchFrame(Seq("alpha", "beta"), 10,
      None, None, Some(dayOneEnd)))
    assert(byTime == all.filter(_._3 <= dayOneEnd),
      s"time scope changed scores: $byTime vs $all")
    // the stale fallback honors the same scope semantics
    e.ingestLines(Seq(s"""sd doc="delta" ${base + 5000000000L}"""))
    assert(!e.searchIndexFresh)
    val fallback = rows(e.searchFrame(Seq("alpha", "beta"), 10,
      Some("sb"), None, None))
    assert(fallback.map(_._1) == Seq("sb"),
      s"stale-scope fallback wrong: $fallback")
  }

  test("a crash between dropSeries' intent journal and its store prunes " +
      "REPLAYS on the next read: the dropped series stops answering " +
      "/search and the journal clears (round-15 ADVICE — drop/retention " +
      "join the merge's replay discipline)") {
    val e = fresh("graft-search-dropcrash", Seq(
      s"""sa doc="alpha beta" $base""",
      s"""sb doc="alpha gamma" ${base + 1000000000L}"""))
    e.buildSearchIndex()
    // fabricate the exact crash state: intent journaled, NOTHING else
    // done yet (the replay body is the whole idempotent tail)
    val fs = new org.apache.hadoop.fs.Path(e.tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b64 = java.util.Base64.getEncoder.encodeToString(
      "sa".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(e.maintJournalPath), true)
    out.write(s"op\tdrop\t$b64"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    // next read replays: data gone, search store pruned, journal gone
    assert(!e.listSeries().contains("sa"),
      "replay did not drop the journaled series")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(e.maintJournalPath)),
      "replay left the maintenance journal")
    assert(e.searchIndexFresh, "replay must leave the store fresh")
    assert(rows(e.searchFrame(Seq("alpha"), 5)).map(_._1) == Seq("sb"),
      "dropped series still answering /search after replay")
  }

  test("Unicode tokenizer (VERDICT #3): Cyrillic and CJK documents are " +
      "findable, queries tokenize with the SAME shared definition, and " +
      "ASCII behavior is unchanged") {
    val toks = graft.queries.TextQueries.searchTokens(
      lit("Привет Мир hello123 世界—test café"))
    val sp = spark
    import sp.implicits._
    val got = Seq(1).toDF("x").select(toks.as("w"))
      .head().getSeq[String](0)
    assert(got == Seq("привет", "мир", "hello123", "世界", "test", "café"),
      s"shared tokenizer drifted: $got")
    val e = fresh("graft-search-uni", Seq(
      s"""ru doc="Привет мир" $base""",
      s"""zh doc="你好 世界" ${base + 1000000000L}""",
      s"""en doc="hello world" ${base + 2000000000L}"""))
    e.buildSearchIndex()
    // Cyrillic query (case-folded) finds the Cyrillic doc
    assert(rows(e.searchFrame(Seq("ПРИВЕТ"), 5)).map(_._1) == Seq("ru"))
    // a CJK run is ONE token (documented trade): the exact run matches
    assert(rows(e.searchFrame(Seq("世界"), 5)).map(_._1) == Seq("zh"))
    assert(rows(e.searchFrame(Seq("hello"), 5)).map(_._1) == Seq("en"))
  }

  test("a compacted store serves through the DENORMALIZED fast path " +
      "(round-16): one baked segment → a single pruned postings scan, " +
      "NO joins; an appended segment disengages it (merge-on-read); the " +
      "next compaction re-engages it with an identical ranking") {
    val e = fresh("graft-search-fast", Seq(
      s"""sa doc="alpha beta" $base""",
      s"""sb doc="alpha alpha" ${base + 1000000000L}"""))
    e.buildSearchIndex() // compact path → denorm segment
    def joins(df: DataFrame): Int = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.size
    val fast = e.searchFrame(Seq("alpha", "beta"), 10)
    assert(joins(fast) == 0,
      s"fast path must be join-free:\n${fast.queryExecution.sparkPlan}")
    assert(scanPaths(fast).nonEmpty &&
      scanPaths(fast).forall(_.contains("/partials")),
      s"fast path must scan only baked partials: ${scanPaths(fast)}")
    assert(rows(fast).map(_._1) == Seq("sa", "sb"))
    // an append adds a second, un-baked segment: serving must fall back
    // to the exact merge-on-read plan (the baked stats are now stale —
    // guarded structurally by the single-denorm-segment condition)
    e.ingestLines(Seq(s"""sc doc="gamma beta" ${base + 2000000000L}"""))
    e.refreshSearchIndex()
    val merged = e.searchFrame(Seq("alpha", "beta"), 10)
    assert(joins(merged) > 0,
      "two-segment serving must merge-on-read (df/dl recomputed)")
    val mergedRows = rows(merged)
    // recompaction re-bakes: the fast plan returns, the ranking over
    // the same corpus is IDENTICAL to the merge-on-read one
    e.buildSearchIndex()
    val fast2 = e.searchFrame(Seq("alpha", "beta"), 10)
    assert(joins(fast2) == 0, "recompacted store must re-engage the " +
      "fast path")
    assert(rows(fast2) == mergedRows,
      s"fast path diverged from merge-on-read: ${rows(fast2)} vs " +
        s"$mergedRows")
  }
}
