package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line
  * `{"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology (BASELINE.md): TWO full passes over the suite (minutes
  * apart by construction), each timing the median of 3 warm runs per
  * query after one untimed JVM/codegen warm-up, plus a THIRD pass for
  * any query whose two pass-medians disagree by > 1 s (both samples
  * plausibly contended); reported per-query time is the MIN of the
  * pass-medians (the shared box shows sustained multi-second contention
  * windows that defeat any single-window estimator); `value` is the sum
  * over queries; `spread` is per-query 2nd-best − best.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // noop sink: consumes EVERY column and keeps the sort, so the timed
    // plan is the full query — count() would let Catalyst eliminate sorts
    // and prune all computed projections, timing a fraction of the work
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      fn
      (System.nanoTime() - t0) / 1e9
    }

    // Measurement hygiene (r16): drop any RDD blocks a query left
    // persisted (localCheckpoint materializations) BETWEEN timed runs.
    // Queries never share persisted state by design (cross-run caching
    // is banned), but leaked blocks from dozens of prior runs otherwise
    // accumulate storage-memory pressure that bleeds into later queries'
    // readings (r16 full-suite diff: the regressed set was exactly the
    // alphabetically-later queries). Blocking, and OUTSIDE the timer —
    // each timed run starts from the same clean storage state.
    def dropLeakedBlocks(): Unit =
      try spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      catch { case _: Throwable => () }

    // JVM / codegen / file-index warm-up (untimed)
    try run(SparkEntry.queries.head._2(spark, sfDir))
    catch { case _: Throwable => () }
    dropLeakedBlocks()

    // dev loop: SPARK_GRAFT_BENCH_ONLY="q_a,q_b" restricts the set (the
    // driver never sets it, so driver runs always measure everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // One measurement pass: per-query median of `runs` warm executions.
    def pass(): Seq[(String, Option[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }
        .map { case (name, fn) =>
          val ts = (1 to runs).flatMap { _ =>
            try {
              val t = time(run(fn(spark, sfDir)))
              dropLeakedBlocks()
              Some(t)
            } catch { case _: Throwable => dropLeakedBlocks(); None }
          }.sorted
          // a failed query must NOT shrink the total silently: surface it
          name -> (if (ts.isEmpty) None else Some(ts(ts.length / 2)))
        }

    // The shared box shows sustained multi-second contention windows
    // (measured: the same query 1.4 s and 17.5 s minutes apart, code
    // unchanged — BASELINE.md variance notes), which defeat any estimator
    // whose samples all land inside one window. So: TWO full passes over
    // the suite — minutes apart by construction, decorrelating each query
    // from any single window — reporting per query the MIN of the
    // pass-medians (each itself a median of 3 warm runs; a clean-window
    // median is the query's cost, a dirty-window one is the neighbor's).
    // SELF-POLICING (r11 verdict item 1): any query whose two pass
    // medians disagree by > 1 s gets a THIRD pass at the end — both its
    // samples plausibly landed in distinct contention windows, and a
    // reported min with multi-second spread is exactly the reading that
    // polluted the r11 round-over-round diff. The emitted spread is
    // (2nd-best − best) over however many passes the query got, so
    // spread > ~1 s in the output now means three separated windows all
    // disagreed — a genuinely unquiet box, not an unlucky pair.
    val p1 = pass().toMap
    val p2 = pass().toMap
    val retry: Set[String] = p1.keys.filter { k =>
      (p1(k), p2(k)) match {
        case (Some(a), Some(b)) => math.abs(a - b) > 1.0
        case _ => true // a pass failed: one more attempt before reporting
      }
    }.toSet
    val p3: Map[String, Option[Double]] =
      if (retry.isEmpty) Map.empty
      else SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => retry.contains(n) }
        .map { case (name, fn) =>
          val ts = (1 to runs).flatMap { _ =>
            try {
              val t = time(run(fn(spark, sfDir)))
              dropLeakedBlocks()
              Some(t)
            } catch { case _: Throwable => dropLeakedBlocks(); None }
          }.sorted
          name -> (if (ts.isEmpty) None else Some(ts(ts.length / 2)))
        }.toMap
    val samples: Map[String, Seq[Double]] = p1.keys.map { k =>
      k -> Seq(p1.get(k), p2.get(k), p3.get(k)).flatten.flatten.sorted
    }.toMap
    val results = p1.keys.toSeq.sorted.map { name =>
      name -> samples(name).headOption
    }
    val ok = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }
    // Locale-pinned formatter: f"" uses the JVM default locale, which on
    // comma-decimal locales would emit "value":0,123 — unparseable JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Per-query pass separation (2nd-best − best over all passes the
    // query got, including the spread-triggered third): a clean read has
    // spread ≈ 0; a multi-second spread marks a contention-window
    // sample, making a contended reading machine-detectable in
    // round-over-round diffs (the q_rate_counter / q_embed_project
    // ambiguity of r8–r10; the third pass added after r11's pollution).
    val spread = ok.map { case (k, _) =>
      "\"" + k + "\":" + (samples(k) match {
        case s if s.length >= 2 => fmt(s(1) - s.head)
        case _ => fmt(0.0)
      })
    }.mkString("{", ",", "}")
    val errs =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    val total = ok.map(_._2).sum
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"spread":$spread$errs,"sf":"$sfDir"}"""
    println(full)
    // The harness that records this run keeps only the tail of stdout,
    // which truncates the full per-query line (160+ entries ≈ 5 KB) into
    // unparseable JSON. Persist the full line as a repo file, then end
    // stdout with a compact line (total + the 10 heaviest queries) that
    // always fits inside a 2000-char tail and parses on its own. Beside
    // the overwritten BENCH_LATEST.json, each run also keeps its own
    // BENCH_<cpus>c_<utc>.json (cpus: the local[N] it ran on), created
    // new and never overwritten, so earlier per-query maps survive for
    // round-over-round diffs.
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .format(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC))
    for ((file, opts) <- Seq("BENCH_LATEST.json" -> Nil,
        s"BENCH_${cpus}c_$stamp.json" ->
          Seq(java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)))
      try java.nio.file.Files.write(java.nio.file.Paths.get(file),
        (full + "\n").getBytes("UTF-8"), opts: _*)
      catch { case _: Throwable => () }
    val top = ok.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${ok.length},"failed":${failed.length},"top10":$top,"full":"BENCH_LATEST.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
