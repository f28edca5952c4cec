package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver-generated test tables (TESTDATA.md, FIXTURES.md §B).
  *
  * All queries read the parquet directly (no caching): filters and column
  * projections must reach the scan (`PushedFilters` / `ReadSchema` in
  * `.explain("formatted")`), which is the behavior that matters at 100 TB.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.parquet carries TIMESTAMP(NANOS), which Spark rejects unless
    * this flag is on; with it, nanos read as LONG and [[load]] truncates to
    * µs (same truncation DuckDB applies), keeping both engines
    * bit-identical. Set ONCE at session build time by every entry point
    * (Verify/Bench/ScaleBench and the test harness) — a loader
    * must not mutate session-global parquet semantics as a side effect. */
  // NOTE (r16, measured and REJECTED): size-based AQE partition
  // coalescing (coalescePartitions.parallelismFirst=false + a small
  // advisoryPartitionSizeInBytes) looked like the fix for tiny-byte
  // stages scheduling 32 tasks of fixed overhead — but the bench's
  // shuffles are CPU-bound, not byte-bound (md5 minhash aggregation,
  // quadratic pair sorts over narrow rows), and byte-sized coalescing
  // starved them of cores: q_triangle_count 6.1 → 14.9 s, q_theil_sen
  // 2.4 → 5.7 s, q_weighted_median 2.2 → 4.3 s isolated. Spark's
  // parallelismFirst default is right for this workload; left at the
  // default on purpose.
  val sessionConfig: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Apply [[sessionConfig]] to a session builder (single source of truth). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfig.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) file read under nanosAsLong
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // µs-precision naive timestamps (driver generators vary): the
        // session TZ is pinned UTC everywhere, so NTZ→LTZ keeps the same
        // wall clock while restoring the instant semantics every query
        // (epoch arithmetic, casts to double) is written against
        df.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => df
    }
  }

  /** Register every table as a temp view (for the SQL facade / spark.sql). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
