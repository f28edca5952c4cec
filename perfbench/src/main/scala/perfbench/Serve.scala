package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.engine.{ApiServer, Engine}

/** Reads beside writes through a real `ApiServer` on loopback: the
  * serve phase of the ingest workload's traced run, which measures the
  * Engine read path and the HTTP layer.
  *
  * Set-up preloads a seeded history (16 series, one point every 15
  * minutes for 7 days, written as one batch) and builds its stats, search
  * and tag stores. Then three reader connections run closed loops of a
  * seeded request mix while one writer connection POSTs `/write` batches
  * at a fixed rate (open loop), and after every tenth write also POSTs
  * `/stats/refresh` and `/search/refresh`, like an operator's cron. The
  * writer's points lie after the preloaded history, so every read of the
  * history has an exact expected answer. Last, reader 0's request
  * sequence is replayed as direct Engine calls, which splits a request's
  * time across the Engine's read path. */
object Serve {
  val Series = 16
  val Days = 7
  val StepS = 900L
  val T0 = 1709251200L // 2024-03-01T00:00:00Z
  val PerDay = (86400 / StepS).toInt
  val Points = Days * PerDay
  val Readers = 3
  val WritesPerS = 0.5
  val LinesPerWrite = 200
  val RefreshEvery = 10
  val ReplayRequests = 10

  def series(k: Int): String = LineGen.series(k)
  def fields(k: Int): Int = if (LineGen.hasText(k)) 3 else 2

  /** Point `j` of series `k`: spread so no two series share a second. */
  def pointS(k: Int, j: Int): Long = T0 + j * StepS + (k * StepS) / Series

  def historyLine(seed: Long, k: Int, j: Int): String = {
    val r = new Rng(seed * 1000003L + k * 7919L + j)
    val msg = if (LineGen.hasText(k))
      s""",msg="${LineGen.Vocab(r.nextInt(LineGen.Vocab.size))} ${LineGen.Vocab(r.nextInt(LineGen.Vocab.size))}""""
    else ""
    s"${series(k)},host=h${k % 16},region=${LineGen.Regions(k % 4)} " +
      s"usage=${r.nextInt(1000000) / 1e4},load=${r.nextInt(100000) / 1e3}$msg ${pointS(k, j) * 1000000000L}"
  }

  /** Rows the history holds for series `k` in [fromS, toS] (inclusive). */
  def expectedRows(k: Int, fromS: Long, toS: Long): Long =
    (0 until Points).count { j => val t = pointS(k, j); t >= fromS && t <= toS } * fields(k).toLong

  def iso(s: Long): String = Instant.ofEpochSecond(s).toString

  /** One reader request: endpoint label, method, path, body, and the row
    * count a correct answer has (-1: only the JSON shape is checked). */
  final case class Req(ep: String, post: Boolean, path: String, body: String,
      expect: Long, k: Int, fromS: Long, toS: Long)

  final class Mix(seed: Long) {
    private val rng = new Rng(seed)
    private val zipf = new Zipf(Series, 1.1)
    private def window(lenS: Long): Long = {
      val day = if (rng.nextDouble() < 0.8) Days - 1 else rng.nextInt(Days - 1)
      val lastStart = T0 + (day + 1) * 86400L - lenS
      math.max(T0 + day * 86400L, lastStart - rng.nextInt(86400 - lenS.toInt + 1))
    }
    def next(): Req = {
      val u = rng.nextDouble()
      val k = zipf.sample(rng)
      val s = series(k)
      if (u < 0.35) {
        val a = window(3600)
        Req("range", post = false, s"/range/$s?start=${iso(a)}&end=${iso(a + 3600)}", "",
          expectedRows(k, a, a + 3600), k, a, a + 3600)
      } else if (u < 0.60) {
        val a = window(6 * 3600)
        val sql = s"SELECT name, count(*) AS n, avg(value) AS v FROM $s WHERE time >= " +
          s"timestamp'${iso(a).dropRight(1).replace('T', ' ')}' AND time < " +
          s"timestamp'${iso(a + 6 * 3600).dropRight(1).replace('T', ' ')}' GROUP BY name ORDER BY name"
        Req("query", post = true, "/query", sql, fields(k).toLong, k, a, a + 6 * 3600)
      } else if (u < 0.70) {
        val day = rng.nextInt(Days)
        val d = iso(T0 + day * 86400L).take(10)
        val sql = "SELECT series, count(*) AS n, avg(value) AS v FROM measurements " +
          s"WHERE day = date'$d' GROUP BY series ORDER BY series"
        Req("query_cross", post = true, "/query", sql, Series.toLong, k, 0, 0)
      } else if (u < 0.80)
        Req("stats", post = false, s"/stats/$s?name=usage", "", -1, k, 0, 0)
      else if (u < 0.90) {
        val w = LineGen.Vocab(rng.nextInt(LineGen.Vocab.size))
        Req("search", post = false, s"/search?q=$w&k=10", "", -1, k, 0, 0)
      } else Req("list", post = false, "/", "", -1, k, 0, 0)
    }
  }

  /** Did the response answer the request correctly? */
  def verify(r: Req, code: Int, body: String): Boolean =
    code == 200 && Http.json(body).exists { n =>
      r.ep match {
        case "range" | "query" | "query_cross" => n.isArray && n.size() == r.expect
        case "stats" => n.path("days").size() >= Days
        case "search" => n.has("hits")
        case "list" => n.path("series").size() >= Series
        case _ => true
      }
    }

  final case class Done(ep: String, startNs: Long, endNs: Long, ok: Boolean,
      thread: Int)

  /** Runs the phase for the run's seconds; returns its per-layer metrics
    * (`metrics`) and its own request metrics (`named`). */
  def run(ctx: RunCtx): Result = {
    val spark = ctx.spark
    // ---- set-up: preload the history and build the side stores
    val s0 = System.nanoTime()
    val engine = new Engine(spark, ctx.dir("serve-warehouse"))
    engine.ingestLines(for (k <- 0 until Series; j <- 0 until Points)
      yield historyLine(ctx.seed, k, j))
    engine.statsRefresh()
    engine.buildSearchIndex()
    engine.buildTagIndex()
    val server = new ApiServer(engine).start()
    val base = s"http://127.0.0.1:${server.boundPort}"
    val setupS = (System.nanoTime() - s0) / 1e9

    val trace = new Trace(spark).install()
    Main.log("serve: load")
    val done = new ConcurrentLinkedQueue[Done]()
    val failures = new ConcurrentLinkedQueue[String]()
    val t0 = System.nanoTime()
    val stopAt = t0 + ctx.seconds * 1000000000L
    val readers = (0 until Readers).map { id =>
      val th = new Thread(() => {
        val http = new Http(base)
        val mix = new Mix(ctx.seed * 31 + id)
        while (System.nanoTime() < stopAt) {
          val r = mix.next()
          val s = System.nanoTime()
          val (code, body) =
            try if (r.post) http.post(r.path, r.body) else http.get(r.path)
            catch { case e: Exception => (-1, e.toString) }
          val ok = verify(r, code, body)
          done.add(Done(r.ep, s, System.nanoTime(), ok, id))
          if (!ok) failures.add(s"${r.ep} ${r.path} -> $code ${body.take(200)}")
        }
      }, s"perfbench-reader-$id")
      th.start()
      th
    }
    // the writer: open loop, each write timed from when it was due
    val writer = new Thread(() => {
      val http = new Http(base)
      val wgen = new LineGen(ctx.seed + 7, Series,
        (T0 + Days * 86400L) * 1000000000L, 1000000000L)
      val sched = Schedule(WritesPerS)
      var i = 0
      while (t0 + sched.dueNs(i) < stopAt) {
        val due = t0 + sched.dueNs(i)
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val lines = wgen.take(LinesPerWrite)
        val (code, body) =
          try http.post("/write", lines.map(_.text).mkString("\n"))
          catch { case e: Exception => (-1, e.toString) }
        val want = lines.map(_.fields.size).sum
        val ok = code == 200 && Http.json(body).exists(_.path("ok").asLong(-1) == want)
        done.add(Done("write", due, System.nanoTime(), ok, -1))
        if (!ok) failures.add(s"write -> $code ${body.take(200)}")
        i += 1
        if (i % RefreshEvery == 0) Seq("/stats/refresh", "/search/refresh").foreach { p =>
          val s = System.nanoTime()
          val (c, b) = try http.post(p, "") catch { case e: Exception => (-1, e.toString) }
          val ok2 = c == 200 && Http.json(b).isDefined
          done.add(Done("refresh", s, System.nanoTime(), ok2, -1))
          if (!ok2) failures.add(s"$p -> $c ${b.take(200)}")
        }
      }
    }, "perfbench-writer")
    writer.start()
    (readers :+ writer).foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9

    Main.log("serve: load done")
    val ops = done.asScala.toVector
    val reads = ops.filter(d => d.ep != "write" && d.ep != "refresh")
    def ms(d: Done) = (d.endNs - d.startNs) / 1e6
    val readMs = reads.filter(_.ok).map(ms)
    val writeMs = ops.filter(d => d.ep == "write" && d.ok).map(ms)
    val failed = ops.count(!_.ok).toLong
    val attempted = math.max(ops.size, 1).toLong
    val reqPerS = ops.count(_.ok) / wallS
    val named = Seq(
      ("setup_s", setupS, "s"),
      ("failed_frac", Stats.failedFrac(attempted, failed), "frac"),
      ("req_per_s", reqPerS, "1/s"),
      ("read_p50_ms", pct(readMs, 50), "ms"),
      ("write_p50_ms", pct(writeMs, 50), "ms"))
    val eps = Seq("range", "query", "query_cross", "stats", "search", "list", "write", "refresh")
    val perEp = eps.map { ep =>
      val xs = ops.filter(d => d.ep == ep && d.ok).map(ms)
      ep -> Json.obj(Seq("n" -> xs.size.toString, "p50_ms" -> Json.num(pct(xs, 50)),
        "p95_ms" -> Json.num(pct(xs, 95))))
    }
    val detail = Seq(
      "endpoints" -> Json.obj(perEp),
      "reads" -> reads.size.toString,
      "writes" -> ops.count(_.ep == "write").toString,
      "wall_s" -> Json.num(wallS),
      "failures" -> failures.asScala.take(5).map(Json.str).mkString("[", ",", "]"))
    val checks = failures.asScala.take(5).toSeq

    // ---- per-layer readout
    val api = eps.filterNot(_ == "refresh").flatMap { ep =>
      val xs = ops.filter(d => d.ep == ep && d.ok).map(ms)
      Seq((s"api.$ep.p50_ms", pct(xs, 50), "ms"), (s"api.$ep.p95_ms", pct(xs, 95), "ms"))
    }
    // direct replay: reader 0's request sequence, straight into Engine
    val direct = replay(ctx, engine, trace)
    trace.uninstall()
    server.stop(0)
    val directP50 = direct.collectFirst { case ("engine.direct_p50_ms", v, _) => v }.get
    val layer = api ++ direct :+
      (("api.http_overhead_ms", pct(readMs, 50) - directP50, "ms"))
    ops.zipWithIndex.foreach { case (d, i) =>
      trace.record(Span(s"api.${d.ep}", d.startNs, d.endNs, s"thread-${d.thread}", i + 1L))
    }
    trace.dump(ctx.work.resolve("spans-serve.jsonl"))
    Result(attempted, failed, checks, named, layer, detail)
  }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)

  /** Replays reader 0's request sequence as direct Engine calls, each in
    * a span; returns the Engine read-path metrics. */
  def replay(ctx: RunCtx, engine: Engine, trace: Trace)
      : Seq[(String, Double, String)] = {
    val mix = new Mix(ctx.seed * 31)
    val tableMs, gateMs, planMs, rowsMs, directMs = Vector.newBuilder[Double]
    val files = Vector.newBuilder[Double]
    var returned, searches, fresh = 0L
    def t[T](b: => T): (T, Double) = {
      val s = System.nanoTime(); val r = b; (r, (System.nanoTime() - s) / 1e6)
    }
    (0 until ReplayRequests).foreach { i =>
      val r = mix.next()
      val span = s"direct.$i"
      val run = () => r.ep match {
        case "range" =>
          tableMs += t(engine.table())._2
          val (df, p) = t { val d = engine.range(series(r.k), iso(r.fromS), iso(r.toS)).toOption.get
            d.queryExecution.executedPlan; d }
          planMs += p
          val (n, rm) = t(engine.jsonRowIterator(df).size)
          rowsMs += rm
          returned += n
          files += scanFiles(df)
        case "query" | "query_cross" =>
          val (df, g) = t(engine.query(r.body).toOption.get)
          gateMs += g
          val (n, rm) = t(engine.jsonRowIterator(df).size)
          rowsMs += rm
          returned += n
        case "stats" => engine.stats(series(r.k), "usage").collect()
        case "search" =>
          searches += 1
          if (engine.searchIndexFresh) fresh += 1
          engine.search(Seq(LineGen.Vocab(i % LineGen.Vocab.size)), 10)
        case _ => engine.listSeries()
      }
      directMs += t(trace.span(span)(run()))._2
    }
    trace.settle()
    val scanned = trace.jobs.values.filter(_.span.startsWith("direct.")).map(_.scanRecords).sum
    def p50(b: scala.collection.mutable.Builder[Double, Vector[Double]]) = pct(b.result(), 50)
    Seq(
      ("engine.table_ms", p50(tableMs), "ms"),
      ("engine.query_gate_ms", p50(gateMs), "ms"),
      ("engine.range_plan_ms", p50(planMs), "ms"),
      ("engine.rows_ms", p50(rowsMs), "ms"),
      ("engine.files_per_range", p50(files), "count"),
      ("engine.scan_rows_per_row", if (returned == 0) 0.0 else scanned.toDouble / returned, "ratio"),
      ("engine.search_fresh_frac", if (searches == 0) 0.0 else fresh.toDouble / searches, "frac"),
      ("engine.direct_p50_ms", p50(directMs), "ms"))
  }

  /** Files the range's scan selects after partition pruning. */
  private def scanFiles(df: org.apache.spark.sql.DataFrame): Double = {
    val plan = df.queryExecution.executedPlan
    plan.execute() // plans the scan's file listing; runs no job
    plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
  }
}
