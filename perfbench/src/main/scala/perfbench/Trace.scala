package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One harness-level span. `req` groups the spans of one request. */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: String, req: Long)

/** One Spark job as the listener saw it. `frames` are the `graft.*`
  * frames of the job's call site, innermost first; `span` is the harness
  * span that was open on the submitting thread, if any. */
final class JobRec(val id: Int, val startMs: Long, val span: String,
    val frames: Seq[String], val batchId: Option[Long]) {
  @volatile var endMs: Long = -1L
  @volatile var stages = 0
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var scanBytes = 0L
  @volatile var scanRecords = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L
  @volatile var resultBytes = 0L
}

/** Measures the program from outside: a SparkListener (jobs, stages, task
  * metrics) and a QueryExecutionListener (planning time) installed on the
  * session, plus spans the harness records around its own calls into the
  * program. Everything stays in memory until the run ends. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, Int]
  private val planMs = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      // the result stage (the newest) carries the job's long call site
      val frames = e.stageInfos.sortBy(-_.stageId).headOption.toSeq
        .flatMap(si => Trace.graftFrames(si.details))
      // a micro-batch's jobs say "batch = <id>" in their description
      val batch = prop("spark.job.description")
        .flatMap(d => Trace.BatchRe.findFirstMatchIn(d)).map(_.group(1).toLong)
      val rec = new JobRec(e.jobId, e.time, prop(Trace.SpanKey).getOrElse(""),
        frames, batch)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (jid <- stageJob.get(si.stageId); j <- jobs.get(jid)) {
        j.stages += 1
        j.tasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.scanBytes += m.inputMetrics.bytesRead
          j.scanRecords += m.inputMetrics.recordsRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.resultBytes += m.resultSize
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      ()
  }

  private var installed = false

  /** Attaches the listeners; a no-op while they are attached. */
  def install(): this.type = {
    if (!installed) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      installed = true
    }
    this
  }

  def uninstall(): Unit = if (installed) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    installed = false
  }

  def planSeconds: Double = planMs.get / 1e3

  /** Wait until every started job has ended and the listener saw it. */
  def settle(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val open = jobs.values.count(_.endMs < 0)
      val n = jobs.size
      if (n != last) { last = n; stableSince = System.currentTimeMillis() }
      if (open == 0 && System.currentTimeMillis() - stableSince > 300) return
      Thread.sleep(50)
    }
  }

  /** Run `body` inside a named span; jobs it submits from this thread
    * carry the span's name. */
  def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(name, t0, System.nanoTime(), "", 0))
      sc.setLocalProperty(Trace.SpanKey, prev)
    }
  }

  def record(s: Span): Unit = spans.add(s)

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs < toMs).toSeq

  /** Spans plus jobs as JSON lines; a job names the harness span that was
    * open when it was submitted and its innermost `graft.*` frame. Span
    * times are the JVM's monotonic nanoseconds, job times epoch ms. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    def q(s: String) = Json.str(s)
    allSpans.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"kind":"span","name":${q(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${q(s.parent)},"req":${s.req}}""" + "\n"
    }
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      sb ++= s"""{"kind":"job","id":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""span":${q(j.span)},"site":${q(j.frames.headOption.getOrElse(""))},""" +
        s""""batch":${j.batchId.getOrElse(-1L)},"stages":${j.stages},"tasks":${j.tasks},""" +
        s""""task_ms":${j.taskMs},"shuffle_write":${j.shuffleWrite},""" +
        s""""shuffle_read":${j.shuffleRead},"scan_bytes":${j.scanBytes}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  private val BatchRe = "batch = (\\d+)".r
  private val FrameRe = """(?m)(?:^|/|\s)(graft\.[\w.$]+)\(""".r

  /** The `graft.*` methods of a Spark call site, innermost first; lines
    * may carry a class-loader prefix (`app//graft.engine.Engine.table(...)`). */
  def graftFrames(callSite: String): Seq[String] =
    FrameRe.findAllMatchIn(callSite).map(_.group(1)).toSeq

  /** `graft.engine.Engine.$anonfun$writeBatch$1` → `writeBatch`. */
  def methodOf(frame: String): String = {
    val m = frame.split('.').lastOption.getOrElse(frame)
    if (m.startsWith("$anonfun$")) m.stripPrefix("$anonfun$").takeWhile(_ != '$')
    else m
  }

  /** Spark runtime totals over a set of jobs, as per-layer metrics. */
  def sparkMetrics(js: Seq[JobRec], wallS: Double, cores: Int,
      planS: Double): Seq[(String, Double, String)] = {
    val taskS = js.map(_.taskMs).sum / 1e3
    Seq(
      ("spark.plan_s", planS, "s"),
      ("spark.jobs", js.size.toDouble, "count"),
      ("spark.stages", js.map(_.stages).sum.toDouble, "count"),
      ("spark.tasks", js.map(_.tasks).sum.toDouble, "count"),
      ("spark.task_s", taskS, "s"),
      ("spark.task_cpu_s", js.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.gc_s", js.map(_.gcMs).sum / 1e3, "s"),
      ("spark.scan_bytes", js.map(_.scanBytes).sum.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", js.map(_.shuffleWrite).sum.toDouble, "bytes"),
      ("spark.shuffle_read_bytes", js.map(_.shuffleRead).sum.toDouble, "bytes"),
      ("spark.spill_bytes", js.map(_.spill).sum.toDouble, "bytes"),
      ("spark.result_bytes", js.map(_.resultBytes).sum.toDouble, "bytes"),
      ("spark.slot_busy_frac", if (wallS > 0) taskS / (wallS * cores) else 0.0, "frac"))
  }

  /** Seconds covered by the union of the jobs' [start, end) intervals. */
  def busySeconds(js: Seq[JobRec]): Double =
    Stats.unionLength(js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))) / 1e3
}

/** Samples one thread's stack every 5 ms and charges the time since the
  * previous sample to the outermost `graft.*` frame whose method is one of
  * `methods`, else to the outermost one whose method is one of
  * `enclosing`, else to "". This attributes wall time on a thread whose
  * Spark call sites the program pins (a streaming query's jobs all carry
  * the call site of its `start()`). */
final class Sampler(threadName: String => Boolean, methods: Set[String],
    enclosing: Set[String]) {
  val chargedNs = TrieMap.empty[String, Long]
  @volatile private var running = true
  private var target: Thread = null

  private val loop = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      if (target == null || !target.isAlive)
        target = Thread.getAllStackTraces.keySet.asScala.find(t => threadName(t.getName)).orNull
      val now = System.nanoTime()
      if (target != null) {
        val ms = target.getStackTrace.reverseIterator
          .filter(_.getClassName.startsWith("graft."))
          .map(f => Trace.methodOf(f.getMethodName)).toSeq
        val label = ms.find(methods.contains)
          .orElse(ms.find(enclosing.contains)).getOrElse("")
        chargedNs.put(label, chargedNs.getOrElse(label, 0L) + (now - last))
      }
      last = now
      Thread.sleep(5)
    }
  }, "perfbench-sampler")
  loop.setDaemon(true)

  def start(): this.type = { loop.start(); this }
  def stop(): Unit = { running = false; loop.join() }
  def seconds(label: String): Double = chargedNs.getOrElse(label, 0L) / 1e9
}

object Jvm {
  /** Heap in use right after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}
