package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.engine.Engine
import graft.ingest.{Gateway, IngestPipeline}

/** Continuous ingest, the production path: `Gateway` HTTP `/write` →
  * spool files → `spark.readStream.text` → `Engine.ingestStream`, with
  * every maintenance hook on at one cadence and one hour-bucket
  * continuous query registered.
  *
  * Phase 1 (backfill) spools a seeded backlog before the stream starts
  * and times its drain; set-up prepares three backlogs, and the two spare
  * ones drain through streams of their own first, so the drain rate is a
  * median of three. Phase 2 (live) is an open loop: one sender POSTs
  * a fixed number of lines at a fixed rate, whatever the engine's pace,
  * and each POST's freshness runs from the moment it was due to the end
  * of the micro-batch that committed its last line. Batches are matched
  * to POSTs by cumulative input rows, which the file source reads in
  * spool order. */
object Ingest {
  val Series = 16
  val BacklogLines = 40000
  val PostsPerS = 20
  val LinesPerPost = 250
  val HookEvery = 4
  val BacklogFileLines = 500
  val SetupReps = 3
  val StartNs = 1709251200L * 1000000000L // 2024-03-01T00:00:00Z
  val StepNs = 500000000L

  /** One progress report, stamped when the listener received it. */
  final case class Progress(atNs: Long, batch: Long, rows: Long,
      dur: Map[String, Long], inRate: Double, procRate: Double)

  final class Sent(val dueNs: Long, val ackNs: Long, val ok: Boolean,
      val cumEnd: Long)

  def run(ctx: RunCtx): Result = {
    val spark = ctx.spark
    val checks = Seq.newBuilder[String]

    // ---- set-up: generate and spool the backlog (repeated; median
    // counts), then warm the ingest path through a throwaway stream
    def prepare(i: Int): (LineGen, Vector[GenLine], String, Engine) = {
      val gen = new LineGen(ctx.seed, Series, StartNs, StepNs)
      val backlog = gen.take(BacklogLines)
      val spool = ctx.dir(s"spool-$i")
      val gw = new Gateway(spool)
      backlog.grouped(BacklogFileLines).foreach(c => gw.appendLines(c.map(_.text)))
      val engine = new Engine(spark, ctx.dir(s"warehouse-$i"))
      engine.registerCq("hourly", "hour")
      (gen, backlog, spool, engine)
    }
    val preps = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val p = prepare(i)
      (p, (System.nanoTime() - t0) / 1e9)
    }
    val warmS = timed(warmUp(ctx))
    val setupS = Stats.median(preps.map(_._2)) + warmS
    val (gen, backlog, spool, engine) = preps.last._1
    // every prepared backlog but the last drains on its own first; the
    // drain rate is the median over all of them
    val extraDrains = preps.init.zipWithIndex.map { case (((_, _, sp, eng), _), i) =>
      timed {
        val q = eng.ingestStream(spark.readStream.text(sp), ctx.dir(s"checkpoint-$i"),
          compactEveryBatches = HookEvery, sketchEveryBatches = HookEvery,
          tagIndexEveryBatches = HookEvery, cqEveryBatches = HookEvery,
          statsEveryBatches = HookEvery, searchEveryBatches = HookEvery)
        try q.processAllAvailable() finally q.stop()
      }
    }

    // ---- the stream, with a listener that keeps its progress reports
    // (reports of the streams above may still be in flight: skipped)
    val progress = new ConcurrentLinkedQueue[Progress]()
    @volatile var committed = 0L
    @volatile var streamId: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.id == streamId && p.numInputRows > 0) {
          progress.add(Progress(System.nanoTime(), p.batchId, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.inputRowsPerSecond, p.processedRowsPerSecond))
          committed += p.numInputRows
          Main.log(s"ingest: batch ${p.batchId} rows ${p.numInputRows} " +
            s"ms ${p.durationMs.get("triggerExecution")} committed $committed")
        }
      }
    }
    spark.streams.addListener(listener)
    val trace = new Trace(spark)
    val sampler = new Sampler(_.startsWith("stream execution thread"), HookMethods,
      Set("ingestStream"))
    if (ctx.traced) { trace.install(); sampler.start() }
    val wh = ctx.work.resolve(s"warehouse-$SetupReps")

    // ---- phase 1: drain the backlog
    val p1Ms = System.currentTimeMillis()
    val p1 = System.nanoTime()
    val query = engine.ingestStream(spark.readStream.text(spool),
      ctx.dir("checkpoint"),
      compactEveryBatches = HookEvery, sketchEveryBatches = HookEvery,
      tagIndexEveryBatches = HookEvery, cqEveryBatches = HookEvery,
      statsEveryBatches = HookEvery, searchEveryBatches = HookEvery)
    streamId = query.id
    def awaitCommitted(n: Long, timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (committed < n && System.nanoTime() < deadline && query.isActive)
        Thread.sleep(5)
      committed >= n
    }
    var attempted = 1L
    var failed = 0L
    if (!awaitCommitted(BacklogLines, 120)) {
      failed += 1
      checks += s"backlog not drained: $committed of $BacklogLines lines"
    }
    val drainS = {
      val ps = progress.asScala.toVector
      val i = ps.scanLeft(0L)(_ + _.rows).tail.indexWhere(_ >= BacklogLines)
      ((if (i < 0) System.nanoTime() else ps(i).atNs) - p1) / 1e9
    }
    val diskBytes = dirBytes(wh)

    // ---- phase 2: open-loop POSTs through the gateway
    val gw = new Gateway(spool).start()
    val http = new Http(s"http://127.0.0.1:${gw.boundHttpPort}")
    val live = Vector.newBuilder[GenLine]
    val sent = Vector.newBuilder[Sent]
    val nPosts = PostsPerS * ctx.seconds
    val sched = Schedule(PostsPerS)
    var cum = BacklogLines.toLong
    val p2 = System.nanoTime()
    var maxLateNs = 0L
    for (i <- 0 until nPosts) {
      val lines = gen.take(LinesPerPost)
      live ++= lines
      val due = p2 + sched.dueNs(i)
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      maxLateNs = math.max(maxLateNs, System.nanoTime() - due)
      val ok = try http.post("/write", lines.map(_.text).mkString("\n"))._1 == 200
        catch { case _: Exception => false }
      cum += LinesPerPost
      sent += new Sent(due, System.nanoTime(), ok, cum)
    }
    attempted += nPosts
    val sends = sent.result()
    if (!awaitCommitted(cum, 60))
      checks += s"live lines not committed: ${committed - BacklogLines} of ${cum - BacklogLines}"
    val p2EndMs = System.currentTimeMillis()
    val p2EndNs = System.nanoTime()

    if (ctx.traced) sampler.stop()

    // traced runs: equal bursts with the Spark listener off, then on
    val overhead = if (!ctx.traced) 0.0 else {
      val burst = (0 until 6).map { k =>
        if (k % 2 == 0) trace.uninstall() else trace.install()
        val lines = gen.take(LinesPerPost * 4)
        live ++= lines
        val t0 = System.nanoTime()
        gw.appendLines(lines.map(_.text))
        cum += lines.size
        awaitCommitted(cum, 60)
        (k % 2 == 1, (System.nanoTime() - t0) / 1e9)
      }
      Stats.median(burst.filter(_._1).map(_._2)) /
        Stats.median(burst.filterNot(_._1).map(_._2)) - 1
    }
    query.stop()
    gw.stop()
    spark.streams.removeListener(listener)

    // ---- output checks
    val all = backlog ++ live.result()
    val expectRows = all.map(_.fields.size.toLong).sum
    val expectBad = all.count(!_.valid).toLong
    val gotRows = engine.table().count()
    val gotBad = engine.quarantine().count()
    if (gotRows != expectRows) checks += s"table has $gotRows rows, expected $expectRows"
    if (gotBad != expectBad) checks += s"quarantine has $gotBad lines, expected $expectBad"
    val probe = {
      val r = new Rng(ctx.seed ^ 0x5EEDL)
      val valid = backlog.filter(_.valid)
      valid(r.nextInt(valid.size))
    }
    val ts = java.time.Instant.ofEpochSecond(0, probe.timeNs).toString
    val got = engine.range(probe.series, ts, ts).toOption.toSeq
      .flatMap(_.select("name", "value", "value_str").collect().toSeq)
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) Right(r.getString(2)) else Left(r.getDouble(1))))
      .sortBy(_._1)
    if (got != probe.fields.sortBy(_._1))
      checks += s"range probe ${probe.series}@$ts returned $got, expected ${probe.fields}"
    val lost = sends.count(s => s.ok && s.cumEnd > committed)
    failed += sends.count(!_.ok) + lost
    val checkList = checks.result()
    failed += checkList.size

    // freshness: due time of a POST -> first batch whose cumulative input
    // covers its last line
    val prog = progress.asScala.toVector
    val cumAt = prog.scanLeft(0L)(_ + _.rows).tail
    def commitNs(c: Long): Option[Long] = {
      val i = cumAt.indexWhere(_ >= c)
      if (i < 0) None else Some(prog(i).atNs)
    }
    val fresh = sends.filter(_.ok).flatMap(s => commitNs(s.cumEnd).map(t => (t - s.dueNs) / 1e6))
    val acks = sends.filter(_.ok).map(s => (s.ackNs - s.dueNs) / 1e6)
    val drainRate = BacklogLines / Stats.median(extraDrains :+ drainS)
    val named = Seq(
      ("failed_frac", Stats.failedFrac(attempted, failed), "frac"),
      ("drain_lines_per_s", drainRate, "lines/s"),
      ("fresh_p50_ms", pct(fresh, 50), "ms"),
      ("fresh_p95_ms", pct(fresh, 95), "ms"),
      ("disk_bytes_per_line", diskBytes.toDouble / BacklogLines, "bytes"))
    val tailP = Result.tailPercentile(fresh.size)
    val e2e = Result.endToEnd(setupS, pct(fresh, 50), pct(fresh, tailP), drainRate)
    val detail = Seq(
      "backlog_lines" -> BacklogLines.toString,
      "drain_s" -> (extraDrains :+ drainS).map(Json.num).mkString("[", ",", "]"),
      "posts" -> nPosts.toString,
      "offered_lines_per_s" -> (PostsPerS * LinesPerPost).toString,
      "fresh_samples" -> fresh.size.toString,
      "batches" -> prog.size.toString,
      "generator_late_max_ms" -> Json.num(maxLateNs / 1e6),
      "setup_prepare_s" -> Json.obj(preps.zipWithIndex.map { case ((_, s), i) => s"$i" -> Json.num(s) }),
      "setup_warmup_s" -> Json.num(warmS),
      "latency_tail_percentile" -> Json.num(tailP))
    if (!ctx.traced) return Result(attempted, failed, checkList, named, e2e, detail)

    // ---- per-layer readout (traced run)
    trace.settle()
    trace.uninstall()
    val jobs = trace.jobsIn(p1Ms, p2EndMs + 1)
    def hook(names: String*): Double = names.map(sampler.seconds).sum
    val measured = prog.filter(_.atNs <= p2EndNs)
    val liveProg = measured.filter(_.atNs > p2)
    val batchMs = liveProg.map(p => p.dur.getOrElse("triggerExecution", 0L).toDouble)
    val addBatchS = measured.map(_.dur.getOrElse("addBatch", 0L)).sum / 1e3
    val jobBusyS = measured.map(p => Trace.busySeconds(jobs.filter(_.batchId.contains(p.batch)))).sum
    val parseS = timed(IngestPipeline.parseAll(spark, spark.read.text(spool))
      .write.format("noop").mode("overwrite").save())
    val table = wh.resolve("measurements")
    val layer = Seq(
      ("gateway.ack_p50_ms", pct(acks, 50), "ms"),
      ("gateway.ack_p95_ms", pct(acks, 95), "ms"),
      ("stream.batches", measured.size.toDouble, "count"),
      ("stream.batch_p50_ms", pct(batchMs, 50), "ms"),
      ("stream.batch_p95_ms", pct(batchMs, 95), "ms"),
      ("stream.input_rows_per_s", weighted(liveProg.map(p => (p.inRate, p.rows))), "rows/s"),
      ("stream.processed_rows_per_s", weighted(liveProg.map(p => (p.procRate, p.rows))), "rows/s"),
      ("stream.latest_offset_s", measured.map(_.dur.getOrElse("latestOffset", 0L)).sum / 1e3, "s"),
      ("stream.add_batch_s", addBatchS, "s"),
      ("stream.driver_only_s", math.max(0.0, addBatchS - jobBusyS), "s"),
      ("pipeline.parse_s", parseS, "s"),
      ("engine.write_s", hook("writeBatch"), "s"),
      ("engine.quarantine_s", hook("writeQuarantine"), "s"),
      ("engine.files_written", countFiles(table, ".parquet").toDouble, "count"),
      ("engine.manifest_leaves", manifestLeaves(table).toDouble, "count"),
      ("engine.batch_dirs", engine.batchDirCount().toDouble, "count"),
      ("engine.quarantined_lines", gotBad.toDouble, "count"),
      ("engine.hook.compact_s", hook("compactIfNeeded"), "s"),
      ("engine.hook.stats_s", hook("statsRefresh"), "s"),
      ("engine.hook.search_s", hook("refreshSearchIndex"), "s"),
      ("engine.hook.tag_index_s", hook("buildTagIndex"), "s"),
      ("engine.hook.sketch_s", hook("sketchRollup", "histogramRollup"), "s"),
      ("engine.hook.cq_s", hook("refreshCqs"), "s")) ++
      Trace.sparkMetrics(jobs, (p2EndMs - p1Ms) / 1e3, ctx.cores, trace.planSeconds) ++ Seq(
      ("jvm.heap_after_gc_mb", Jvm.heapAfterGcMb(), "MB"),
      ("trace.overhead_frac", overhead, "frac"))
    // spans: the two phases, every POST, every micro-batch
    trace.record(Span("ingest.phase1_drain", p1, p1 + (drainS * 1e9).toLong, "", 0))
    trace.record(Span("ingest.phase2_live", p2, System.nanoTime(), "", 0))
    sends.zipWithIndex.foreach { case (s, i) =>
      trace.record(Span("gateway.post", s.dueNs, s.ackNs, "ingest.phase2_live", i + 1L))
    }
    prog.foreach { p =>
      val d = p.dur.getOrElse("triggerExecution", 0L) * 1000000L
      trace.record(Span(s"stream.batch.${p.batch}", p.atNs - d, p.atNs, "", 0))
    }
    trace.dump(ctx.work.resolve("spans.jsonl"))

    // ---- serve phase: the read path and HTTP layers, beside /write writes
    Main.log("ingest: serve phase")
    val serve = Serve.run(ctx)
    Result(attempted + serve.attempted, failed + serve.failed, checkList ++ serve.checks,
      named ++ serve.named.map { case (n, v, u) => (s"serve.$n", v, u) },
      layer ++ serve.metrics, detail ++ serve.detail.filter(_._1 == "endpoints") ++ Seq(
      "stream_thread_s" -> Json.obj(sampler.chargedNs.toSeq.sortBy(_._1).map {
        case (k, ns) => (if (k.isEmpty) "other" else k) -> Json.num(ns / 1e9) })))
  }

  /** The Engine methods a stream job can be attributed to. */
  val HookMethods: Set[String] = Set("writeBatch", "writeQuarantine",
    "compactIfNeeded", "statsRefresh", "refreshSearchIndex", "buildTagIndex",
    "sketchRollup", "histogramRollup", "refreshCqs")

  /** A throwaway engine fed two one-file micro-batches, so the measured
    * stream starts with the parse and write code already compiled. */
  private def warmUp(ctx: RunCtx): Unit = {
    val gen = new LineGen(ctx.seed + 1, Series, StartNs, StepNs)
    val spool = ctx.dir("warm-spool")
    val gw = new Gateway(spool)
    (1 to 2).foreach(_ => gw.appendLines(gen.take(BacklogFileLines).map(_.text)))
    val engine = new Engine(ctx.spark, ctx.dir("warm-warehouse"))
    val q = engine.ingestStream(
      ctx.spark.readStream.option("maxFilesPerTrigger", "1").text(spool),
      ctx.dir("warm-checkpoint"))
    try q.processAllAvailable() finally q.stop()
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)

  private def weighted(xs: Seq[(Double, Long)]): Double = {
    val w = xs.map(_._2).sum
    if (w == 0) 0.0 else xs.map { case (v, n) => v * n }.sum / w
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def countFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .count(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toLong

  /** Leaf dirs named by the table's newest manifest version file. */
  def manifestLeaves(table: Path): Long = {
    val root = Paths.get(table.toString + ".manifest")
    if (!Files.isDirectory(root)) 0L
    else Files.list(root).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".txt")).toSeq.sorted.lastOption
      .map(n => Files.readAllLines(root.resolve(n)).asScala
        .count(l => l.nonEmpty && !l.startsWith("#")).toLong)
      .getOrElse(0L)
  }
}
