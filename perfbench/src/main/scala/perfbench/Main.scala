package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Tiny JSON writer: the harness emits flat objects only. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** What one run measured. `named` are the workload's own metrics (the
  * ones its readout names, such as `drain_lines_per_s`); `metrics` are the
  * benchmark's end-to-end metrics (untraced run) or its per-layer metrics
  * (traced run), each (name, value, unit); `detail` holds per-query /
  * per-endpoint breakdowns as raw JSON values. */
final case class Result(attempted: Long, failed: Long, checks: Seq[String],
    named: Seq[(String, Double, String)], metrics: Seq[(String, Double, String)],
    detail: Seq[(String, String)]) {
  def correct: Boolean = failed == 0 && checks.isEmpty

  private def metricJson(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })

  def toJson: String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "checks" -> checks.map(Json.str).mkString("[", ",", "]"),
    "named" -> metricJson(named),
    "metrics" -> metricJson(metrics),
    "detail" -> Json.obj(detail)))
}

object Result {
  /** The end-to-end metrics every workload reports: set-up time, the
    * median and tail latency of its unit of work, and its throughput. */
  def endToEnd(setupS: Double, p50Ms: Double, tailMs: Double,
      throughputPerS: Double): Seq[(String, Double, String)] =
    Seq(("setup_s", setupS, "s"), ("latency_p50_ms", p50Ms, "ms"),
      ("latency_tail_ms", tailMs, "ms"), ("throughput_per_s", throughputPerS, "1/s"))

  /** The tail percentile `n` samples support: the highest up to p95 that
    * leaves at least ten samples above it, and never below the median. */
  def tailPercentile(n: Int): Double =
    math.max(Stats.supportedPercentile(n, 95), 50)
}

/** Everything a workload needs to know about its run. */
final case class RunCtx(spark: SparkSession, seed: Long, seconds: Int,
    traced: Boolean, work: Path, cores: Int) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Entry point:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE`. Writes the run's result as one JSON object to
  * FILE (and, when traced, its spans next to it). */
object Main {
  private val started = System.nanoTime()

  /** A progress line in the run's log (standard error). */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - started) / 1e9}%7.2fs] $msg")

  val Workloads: Map[String, RunCtx => Result] = Map(
    "analytics" -> Analytics.run,
    "ingest" -> Ingest.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val fn = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    // the session options graft.Bench uses, on local[<cores>]
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = RunCtx(spark, opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", work, cores)
    val res =
      try fn(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Result(1, 1, Seq(s"workload aborted: $e"), Nil, Nil, Nil)
      }
    Files.write(Paths.get(opts("out")), res.toJson.getBytes("UTF-8"))
    spark.stop()
    // ends server and client threads the program under test leaves behind
    sys.exit(0)
  }
}
