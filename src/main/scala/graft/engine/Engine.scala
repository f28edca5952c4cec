package graft.engine

import java.sql.Timestamp
import java.time.{Instant, OffsetDateTime}

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan, ParsedStatement}
import org.apache.spark.sql.functions._

import graft.ingest.IngestPipeline

/** The engine facade — Spark-native replacement for the reference's
  * `TimeseriesDiskPersistenceManager` + HTTP handlers (refluxdb
  * src/persistence.rs, src/handlers.rs).
  *
  * One canonical partitioned table replaces "one sled DB per series"
  * (SURVEY Q-F lift): parquet under `warehouse/measurements/series=_/day=_`.
  * Series isolation becomes partition pruning; the catalog is the partition
  * listing; cross-series joins become legal.
  *
  * Reference endpoints → methods:
  *  - `GET /`        → [[listSeries]]   (R9, src/handlers.rs:24-32)
  *  - `GET /range`   → [[range]]        (R11 intent — the reference SQL is
  *                     double-broken, SURVEY Q-B; we filter `time` inclusive
  *                     both ends, deviation D2)
  *  - `POST /query`  → [[query]]        (R12/R14; the substring blocklist
  *                     gate becomes a real parse — SURVEY Q-D/§7.3)
  *  - `POST /write`  → [[ingestLines]] / [[ingestStream]] (R4-R6)
  *
  * Empty results are empty DataFrames, never errors (deviation D4); tags
  * round-trip and are queryable (D3).
  */
class Engine(val spark: SparkSession, warehouse: String)
    extends org.apache.spark.internal.Logging {

  val tablePath = s"$warehouse/measurements"

  // the engine's SQL surface carries the library's custom functions:
  // parse_line/to_line (protocol round-trip), explode_line (per-field
  // generator) and vec_dot/vec_norm/vec_cosine (similarity over array
  // columns) are callable from any POST /query SELECT
  graft.functions.ParseLine.register(spark)
  graft.functions.ExplodeLine.register(spark)
  graft.functions.VecOps.register(spark)
  graft.functions.EditDistanceOps.register(spark)
  graft.functions.DtwOps.register(spark)
  // classifier_scores / repetition_stats / gopher_stats: the native
  // text-quality kernels, callable from any POST /query SELECT over a
  // string field — the same expressions the oracle-gated text family
  // compiles against
  graft.functions.TextOps.register(spark)

  import spark.implicits._

  // ---------------------------------------------------------------- ingest

  /** Append a batch of raw protocol lines; returns (ok rows, error rows).
    * Create-on-first-write (reference R7, src/utils/db.rs:60-108) is
    * implicit: the first append materializes the partition directories. */
  def ingestLines(lines: Seq[String]): (Long, Long) = {
    val parsed = IngestPipeline.parseAll(spark, lines.toDF("value")).cache()
    val tag = s"b-${java.util.UUID.randomUUID().toString.take(8)}"
    val ok = IngestPipeline.canonical(parsed)
    val n = ok.count()
    if (n > 0) writeBatch(ok, tag)
    val errs = writeQuarantine(IngestPipeline.errors(parsed), tag)
    parsed.unpersist()
    (n, errs)
  }

  /** Attach a streaming source of raw lines (column `value`) — exactly-once
    * micro-batch ingest: each micro-batch parses ONCE, writes canonical
    * rows under its own `ingest_batch=<id>` directory (deleted first, so a
    * replayed batch overwrites its previous, possibly partial, output) and
    * persists rejected lines to the quarantine table — bad input is
    * auditable, never silently dropped.
    *
    * Maintenance hooks for CONTINUOUS ingest (round-2 VERDICT item 9 —
    * without them the bounded-metadata and bucketed-join levers only exist
    * as manual calls):
    *  - `compactEveryBatches` > 0: after every Nth micro-batch, run
    *    [[compactIfNeeded]] so batch dirs stay bounded under an always-on
    *    stream;
    *  - `bucketEveryBatches` > 0: after every Nth micro-batch, rewrite the
    *    table bucketed ([[compactBucketed]] as `bucketTable`) so repeated
    *    keyed joins against the live table keep their no-Exchange plan.
    *  - `sketchEveryBatches` > 0: after every Nth micro-batch, fold the
    *    new batches into the sketch and histogram rollups
    *    ([[sketchRollup]], [[histogramRollup]]) — each refresh scans only
    *    the batches its ledger has not folded, plus the stored partials
    *    it merges them into. The per-slot cost of that fold is unmeasured:
    *    the ingest benchmark runs one round per run, so it times only
    *    first builds.
    *  - `tagIndexEveryBatches` > 0: after every Nth micro-batch, fold the
    *    new batches into the inverted tag index ([[buildTagIndex]], the
    *    same fold) so [[queryByTag]] keeps its index-pruned fast
    *    path under continuous ingest (without a fresh index it falls
    *    back to the direct scan — see [[queryByTag]]).
    *  - `cqEveryBatches` > 0: after every Nth micro-batch, refresh every
    *    registered continuous query ([[refreshCqs]]). Every (series, day)
    *    slice a new leaf touches is recomputed from that slice's live
    *    leaves, so the slot's cost tracks the touched slices, not the
    *    batch: when every row falls on one day, each refresh rereads that
    *    day's leaves.
    *  - `statsEveryBatches` > 0: after every Nth micro-batch, fold the
    *    new batches into the incremental stats store ([[statsRefresh]]),
    *    the same fold as the sketch and tag-index hooks.
    *  - `searchEveryBatches` > 0: after every Nth micro-batch, refresh
    *    the BM25 search store INCREMENTALLY ([[refreshSearchIndex]] —
    *    only unseen batches re-tokenize) so GET /search serves
    *    newly-ingested string fields.
    * Compaction, bucketing and retention run inside foreachBatch on the
    * stream thread, one after another. The due side-store refreshes
    * (sketch + histogram, tag index, CQs, stats, search) form ONE round
    * that runs in the background ([[maintenanceRound]]): under the table
    * lock and lease the stream thread runs pending crash recovery and
    * pins the current manifest (version, leaves), hands the round to the
    * stream's coordinator thread and returns. So a micro-batch completes
    * without waiting for the refreshes, and the batches after it keep
    * committing while the round runs: the round holds the maintenance
    * lock, not the table lock. It catches every due store up to the
    * pinned snapshot ([[SideStore.catchUp]]), one hook at a time, and
    * each store's ledger names the pinned version, so a store that has
    * not caught up reads as stale ([[storeCurrent]]) and serving falls
    * back to exact scans. At most one round is in flight per stream: a
    * due slot that finds one running skips its hooks, and the next round
    * catches up, because each ledger records the leaves it covers.
    * Retention, drops, merges and compaction
    * wait for an in-flight round through the maintenance lock.
    *
    * The returned query wraps the stream: `processAllAvailable()` also
    * waits for the in-flight round, and `stop()` stops the stream, then
    * joins the round, whose jobs carry the stream's job group and are
    * cancelled with it (the stores keep their previous version). A failed
    * round is not lost: its other hooks still run to the end, it fails
    * the stream at the next micro-batch (a StreamingQueryException whose
    * cause chain holds the round's error), and `processAllAvailable()`
    * rethrows the error. */
  def ingestStream(lines: DataFrame, checkpoint: String,
      compactEveryBatches: Int = 0, maxBatchDirs: Int = 64,
      bucketEveryBatches: Int = 0, bucketTable: String = "measurements_bucketed",
      retainDays: Int = 0, retentionEveryBatches: Int = 0,
      sketchEveryBatches: Int = 0, tagIndexEveryBatches: Int = 0,
      cqEveryBatches: Int = 0, statsEveryBatches: Int = 0,
      searchEveryBatches: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val rounds = new RoundCoordinator
    val query = lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        rounds.rethrowFailure()
        val parsed = IngestPipeline.parseAll(spark, batch).cache()
        val ok = IngestPipeline.canonical(parsed)
        // never create a data-less table dir (schema inference would then
        // fail every read until a valid line arrives)
        if (!ok.isEmpty) writeBatch(ok, s"s$id")
        writeQuarantine(IngestPipeline.errors(parsed), s"s$id")
        parsed.unpersist()
        def due(n: Int) = n > 0 && id > 0 && id % n == 0
        if (due(compactEveryBatches)) compactIfNeeded(maxBatchDirs)
        if (due(bucketEveryBatches)) compactBucketed(bucketTable)
        // retention rides the same maintenance slot: expire day partitions
        // older than `retainDays` behind the MAX ingested day (event-time
        // based, so replaying history does not wrongly expire it). Leaf
        // dirs hold only days with rows, so the max is a metadata read.
        if (retainDays > 0 && due(retentionEveryBatches) && exists)
          liveLeaves().map(leafParts(_)._3).maxOption.foreach(maxDay =>
            applyRetention(java.time.LocalDate.parse(maxDay)
              .minusDays(retainDays - 1L).toString))
        // sketch + histogram rollups share a slot, so dashboard
        // distinct-cardinality and percentile panels stay warm together
        val round = Seq[(Int, String, SideStore)](
          (sketchEveryBatches, "sketch", sketchStore),
          (sketchEveryBatches, "histogram", histStore),
          (tagIndexEveryBatches, "tag_index", tagStore),
          (cqEveryBatches, "cq", cqStore),
          (statsEveryBatches, "stats", statsStore),
          (searchEveryBatches, "search", searchStore))
          .collect { case (every, name, store) if due(every) =>
            name -> (store.catchUp(_))
          }
        if (round.nonEmpty) rounds.start(round)
      }
      .start()
    new RoundedQuery(query, rounds)
  }

  /** One stream's background maintenance: a single coordinator thread
    * (alive only while it has work) that runs at most one round at a
    * time, the round's first failure, and the due slots skipped while a
    * round ran. */
  private final class RoundCoordinator {
    private val pool = {
      val p = new java.util.concurrent.ThreadPoolExecutor(1, 1, 10L,
        java.util.concurrent.TimeUnit.SECONDS,
        new java.util.concurrent.LinkedBlockingQueue[Runnable](),
        (r: Runnable) => {
          val t = new Thread(r, s"maintenance round ($tablePath)")
          t.setDaemon(true)
          t
        })
      p.allowCoreThreadTimeOut(true)
      p
    }
    @volatile private var inFlight: java.util.concurrent.Future[Unit] = null
    @volatile private var worker: Thread = null
    @volatile private var failure: Throwable = null
    @volatile private var stopping = false
    private val skipped = new java.util.concurrent.atomic.AtomicInteger

    /** A due slot, on the stream thread: skip it while a round is in
      * flight; otherwise run pending recovery, pin the current manifest
      * and start the round on the coordinator, which carries this
      * thread's Spark session and job properties (the stream's job
      * group). Under the maintenance lock the round first re-pins if a
      * delete or compaction that took the lock before it removed a
      * pinned leaf; after that no pinned leaf can leave the disk. */
    def start(hooks: Seq[(String, Pinned => Unit)]): Unit =
      if (stopping || busy) skipped.incrementAndGet()
      else {
        val pinned = writing {
          val at = pin()
          sideStores.foreach(_.exists)
          at
        }
        inFlight = org.apache.spark.sql.execution.SQLExecution
          .withThreadLocalCaptured(
            org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark),
            pool) {
            worker = Thread.currentThread()
            try Engine.maintenanceLock(tablePath).synchronized {
              roundHook()
              val at = currentManifest() match {
                case Some((v, live)) if !pinned.leaves.forall(live.toSet) =>
                  Pinned(v, live)
                case _ => pinned
              }
              maintenanceRound(hooks.map { case (name, body) => name -> (
                () => if (stopping) throw new java.util.concurrent
                  .CancellationException("stream stopped") else body(at)) },
                at.version, () => skipped.getAndSet(0))
            } catch { case e: Throwable => if (!stopping) failure = e }
          }
      }

    def busy: Boolean = inFlight != null && !inFlight.isDone

    def rethrowFailure(): Unit = if (failure != null) throw failure

    /** Wait for the in-flight round, then rethrow a failed round's error. */
    def await(): Unit = {
      val f = inFlight
      if (f != null) f.get()
      rethrowFailure()
    }

    /** Run no further hook, and wait until the coordinator thread is
      * gone. */
    def stop(cancel: => Unit): Unit = {
      stopping = true
      try cancel
      finally {
        pool.shutdown()
        while (!pool.awaitTermination(1L,
            java.util.concurrent.TimeUnit.SECONDS)) ()
        if (worker != null) worker.join()
      }
    }
  }

  /** [[ingestStream]]'s query: the stream, whose barrier and stop also
    * cover its background round. */
  private final class RoundedQuery(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      rounds: RoundCoordinator)
      extends org.apache.spark.sql.streaming.StreamingQuery {
    def name: String = q.name
    def id: java.util.UUID = q.id
    def runId: java.util.UUID = q.runId
    def sparkSession: org.apache.spark.sql.SparkSession = q.sparkSession
    def isActive: Boolean = q.isActive
    def exception = q.exception
    def status = q.status
    def recentProgress = q.recentProgress
    def lastProgress = q.lastProgress
    def awaitTermination(): Unit = q.awaitTermination()
    def awaitTermination(timeoutMs: Long): Boolean =
      q.awaitTermination(timeoutMs)
    def processAllAvailable(): Unit = {
      q.processAllAvailable()
      rounds.await()
    }
    // the stream's stop cancels its job group only while its thread is
    // alive: cancel an in-flight round's present and future jobs here too
    def stop(): Unit = rounds.stop {
      q.stop()
      if (rounds.busy)
        spark.sparkContext.cancelJobGroupAndFutureJobs(q.runId.toString)
    }
    def explain(): Unit = q.explain()
    def explain(extended: Boolean): Unit = q.explain(extended)
  }

  /** Test-only interception point: fires on the coordinator once it
    * holds the maintenance lock, before the round's hooks (specs park a
    * round here). A no-op in production. */
  private[graft] var roundHook: () => Unit = () => ()

  /** Run `hooks` as one maintenance round, one after another on this
    * thread, under the maintenance lock alone: the stream's writes keep
    * committing meanwhile, while retention, drops, merges, compaction,
    * vacuum and every explicit store refresh wait for the round. The
    * bodies fold from one pinned manifest version (`pinned`, logged) and
    * must call no locking method: [[Engine.tableLock]] throws here, since
    * a body waiting for the table lock would stall the round behind the
    * stream's writes. Every hook runs even after one fails; the first
    * failure is rethrown in hook order with the others suppressed. The
    * INFO line is the operator's lag readout: each hook's ms, the wall
    * time, the pinned version, the table version at commit and the due
    * slots `skipped` while the round ran. */
  private[engine] def maintenanceRound(hooks: Seq[(String, () => Unit)],
      pinned: Long = tableVersion, skipped: () => Int = () => 0): Unit =
    Engine.maintenanceLock(tablePath).synchronized {
      val t0 = System.nanoTime()
      Engine.roundWorkerOf.set(tablePath)
      val outcomes = try hooks.map { case (name, body) =>
        val t = System.nanoTime()
        name -> Try { body(); (System.nanoTime() - t) / 1000000L }
      } finally Engine.roundWorkerOf.remove()
      logInfo(s"maintenance round on $tablePath at v$pinned: " +
        outcomes.map { case (n, r) =>
          s"$n ${r.fold(e => s"failed (${e.getClass.getSimpleName})",
            ms => s"$ms ms")}"
        }.mkString(", ") + s"; wall ${(System.nanoTime() - t0) / 1000000L}" +
        s" ms; table at v$tableVersion on commit; ${skipped()} due slots " +
        "skipped")
      outcomes.flatMap(_._2.failed.toOption) match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ =>
      }
    }

  val quarantinePath = s"$warehouse/quarantine"

  /** Rejected lines persisted per batch (idempotent, like writeBatch).
    * Holds the same lock + writer lease as writeBatch: the single-writer
    * posture covers the WHOLE warehouse, not just the measurements table
    * (an all-invalid batch must not slip a write past a foreign lease). */
  private def writeQuarantine(errs: DataFrame, batchTag: String): Long =
    writing {
      deletePath(s"$quarantinePath/ingest_batch=$batchTag")
      val n = errs.count()
      if (n > 0)
        errs.withColumn("ingest_batch", lit(batchTag))
          .write.mode("append").partitionBy("ingest_batch")
          .parquet(quarantinePath)
      n
    }

  /** The quarantine table (empty frame if nothing was ever rejected).
    * Schema pinned for the same read-compat reason as [[table]]. */
  def quarantine(): DataFrame =
    if (pathExists(quarantinePath))
      spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
          "line STRING, parse_error STRING, ingest_batch STRING"))
        .parquet(quarantinePath).drop("ingest_batch")
    else emptyFrame(org.apache.spark.sql.types.StructType.fromDDL(
      "line STRING, parse_error STRING"))

  // ------------------------------------------------------------ writer lease
  // Cross-JVM single-writer guard (round-2 VERDICT item 7): raw parquet
  // dirs have no commit log, so a second driver appending concurrently can
  // race compact()'s snapshot→swap. The lease is a file beside the table
  // holding the owning JVM's id: the first write acquires it, every write
  // re-checks it, and a second JVM fails FAST with a clear error instead of
  // corrupting the swap. A crashed writer leaves its lease behind —
  // recovery is an explicit operator action ([[breakWriterLease]]), the
  // same posture as a Hive/Delta lock table. Engines in ONE JVM share the
  // lease (they already serialize through tableLock). A real multi-writer
  // deployment needs a table format with a commit log (Delta/Iceberg).

  private def leasePath = new org.apache.hadoop.fs.Path(s"$tablePath.writer.lock")

  private def leaseHolder(): Option[String] = {
    val f = fs(tablePath)
    if (!f.exists(leasePath)) None
    else {
      val in = f.open(leasePath)
      try {
        // read to EOF: a single read() may legally return short (stream
        // contract) and a truncated id would spuriously reject ourselves
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
        Some(bos.toString("UTF-8").trim)
      } finally in.close()
    }
  }

  /** Acquire (or re-verify) this JVM's writer lease; throws if another
    * JVM holds it. Called under tableLock by every write path. */
  private def acquireWriterLease(): Unit = {
    def reject(id: String): Nothing = throw new IllegalStateException(
      s"warehouse $tablePath is leased to another writer (JVM $id); " +
        "this engine is read-only for it. If that writer crashed, call " +
        "breakWriterLease() to take over.")
    leaseHolder() match {
      case Some(id) if id != Engine.writerId => reject(id)
      case Some(_) => () // ours already
      case None =>
        val f = fs(tablePath)
        try {
          // atomic create-if-absent on HDFS; local/object-store FSes may
          // check-then-create, so the read-back below is load-bearing
          val out = f.create(leasePath, false)
          try out.write(Engine.writerId.getBytes("UTF-8"))
          finally out.close()
        } catch {
          case _: java.io.IOException => () // lost the creation race
        }
        // READ-BACK verification: whatever the create semantics, exactly
        // one writer's id is in the file now — everyone re-reads and only
        // the JVM that finds its own id proceeds (closes the non-atomic-
        // create window on RawLocalFileSystem)
        leaseHolder() match {
          case Some(id) if id != Engine.writerId => reject(id)
          case _ => ()
        }
    }
  }

  /** Run `body` under the table lock with the writer lease — the frame
    * of every write. */
  private def writing[T](body: => T): T =
    Engine.tableLock(tablePath).synchronized {
      acquireWriterLease()
      body
    }

  /** [[writing]] under the maintenance lock (outer): the frame of every
    * writer of a side-store root, so none of them runs while a
    * background [[maintenanceRound]] folds the stores. */
  private def maintaining[T](body: => T): T =
    Engine.maintenanceLock(tablePath).synchronized(writing(body))

  /** The frame of an explicit store refresh: `body` folds from the
    * current manifest, pinned under both locks. */
  private def refreshing[T](body: Pinned => T): T = maintaining(body(pin()))

  /** Run pending crash recovery and pin the current manifest: the
    * [[Pinned]] version a store catches up to. Store bodies read the
    * table only through its leaves, and their ledgers record them, so a
    * ledger never names a version whose leaves its store did not fold.
    * The caller holds the table lock. A warehouse that predates the
    * manifest pins its on-disk leaves as version 0 (what [[liveLeaves]]
    * reads): only a write bootstraps a manifest. */
  private def pin(): Pinned =
    if (!exists) Pinned(0L, Nil)
    else currentManifest().fold(Pinned(0L, fsLeafDirs())) {
      case (v, leaves) => Pinned(v, leaves)
    }

  /** Release this JVM's lease (clean shutdown); no-op if not held. */
  def releaseWriterLease(): Unit = Engine.tableLock(tablePath).synchronized {
    if (leaseHolder().contains(Engine.writerId))
      fs(tablePath).delete(leasePath, false)
  }

  /** Operator override: remove a (crashed) writer's stale lease. */
  def breakWriterLease(): Unit = {
    fs(tablePath).delete(leasePath, false)
    ()
  }

  private[graft] def writeBatch(parsed: DataFrame, batchTag: String): Unit =
    // a replayed batch deletes a directory an in-flight maintenance round
    // may be reading: it waits for the round through the maintenance lock
    if (pathExists(s"$tablePath/ingest_batch=$batchTag"))
      Engine.maintenanceLock(tablePath).synchronized(append(parsed, batchTag))
    else append(parsed, batchTag)

  private def append(parsed: DataFrame, batchTag: String): Unit =
    writing {
      // idempotence under micro-batch retry: wipe this batch's previous
      // (possibly partial) output first, then plain append. Deleting the
      // whole batch directory is robust even when the arrival-time fallback
      // shifts rows to different day partitions between attempts (dynamic
      // partition overwrite would leave the first attempt's partitions
      // behind), and needs no session-wide writer-config mutation.
      deletePath(s"$tablePath/ingest_batch=$batchTag")
      parsed
        .withColumn("day", date_format(col("time"), "yyyy-MM-dd"))
        .withColumn("ingest_batch", lit(batchTag))
        // cluster rows by their target partition first: each (series, day)
        // is then written by one task — bounded file counts instead of
        // tasks x partitions tiny files (the small-files killer at scale)
        .repartition(col("series"), col("day"))
        .write.mode("append")
        .partitionBy("ingest_batch", "series", "day")
        .parquet(tablePath)
      // commit: publish the batch's leaf dirs as the next version —
      // readers (any JVM) only see the append once it is complete. A
      // retried micro-batch replaces its previous attempt's leaves.
      val (_, base) = ensureManifest()
      val prefix = s"ingest_batch=$batchTag/"
      publishLeaves(base.filterNot(_.startsWith(prefix)) ++
        leavesOfBatch(batchTag), s"write:$batchTag")
      writeVersion += 1
      seriesCache = null // new partitions may add series
    }

  // All path operations go through the Hadoop FileSystem API so the engine
  // behaves identically on local disk, HDFS, or an object store (a
  // java.io.File delete would silently no-op on hdfs:// or s3a:// paths
  // and break micro-batch retry idempotence).
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def fs(p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p).getFileSystem(hadoopConf)

  private def deletePath(p: String): Unit =
    fs(p).delete(new org.apache.hadoop.fs.Path(p), true)

  private def pathExists(p: String): Boolean =
    fs(p).exists(new org.apache.hadoop.fs.Path(p))

  private def renamePath(from: String, to: String): Boolean =
    fs(from).rename(new org.apache.hadoop.fs.Path(from),
      new org.apache.hadoop.fs.Path(to))

  // ------------------------------------------------------ version manifest
  // Commit-log read path (round-15 VERDICT #1 — the last structural gap
  // between this engine and lakehouse-grade isolation): every mutation
  // publishes an immutable VERSION FILE listing the live leaf partition
  // directories (`ingest_batch=…/series=…/day=…`), and every reader —
  // THIS process or any other JVM sharing the warehouse — resolves the
  // highest committed version and reads exactly those directories. The
  // publish is one atomic rename (`vN.txt.tmp` → `vN.txt`), so a reader
  // racing any mutation sees the previous complete version or the next
  // complete version, never a half-swapped tree. Mutations therefore
  // commit by PUBLISHING LAST:
  //  - [[writeBatch]] publishes after its batch directory is fully
  //    written — a crashed append is invisible (its orphan dir joins no
  //    version) instead of a partial batch;
  //  - [[mergeBatch]] leaves replaced partition dirs IN PLACE and
  //    publishes a version that excludes them — a concurrent reader
  //    pinned to the previous version keeps reading the pre-merge
  //    directories (true snapshot isolation, not fail-loud); the
  //    retired dirs become garbage that [[vacuum]]/[[compact]] collect;
  //  - [[dropSeries]] and [[applyRetention]] are one delete,
  //    [[deleteSlices]], differing only in their [[Deletion]] predicate;
  //    it and [[compact]] journal their intent, publish, then delete —
  //    crash replay re-runs the idempotent tail ([[recoverMaintenance]]).
  // Every crash replay (the journals, compact's `.old` swap-back) runs in
  // one frame, [[recovering]], with one lease and live-op discipline.
  // Version files are driver metadata: O(live leaf dirs) lines, the same
  // asymptotics as the partition listing Spark's own InMemoryFileIndex
  // performs — at 100 TB the leaf-dir count is bounded by compaction
  // (batchDirCount × series × days), exactly the quantity
  // [[compactIfNeeded]] already keeps bounded. A warehouse that predates
  // the manifest bootstraps one from a full directory listing on its
  // first mutation; until then reads list its leaf dirs ([[liveLeaves]]).

  private[engine] def manifestRoot = tablePath + ".manifest"
  private[engine] def mergeJournalPath = tablePath + ".merge_journal"
  private[engine] def maintJournalPath = tablePath + ".maint_journal"

  /** How many committed versions stay listed before [[publishVersion]]
    * prunes their version FILES (the leaf dirs a pruned version named
    * stay on disk until [[vacuum]]/[[compact]]). A reader resolves the
    * current version in one listing, so the window only bounds how long
    * a slow reader's pinned listing outlives its publish. */
  private val manifestKeepVersions = 8

  private def versionFileName(v: Long) = f"v$v%020d.txt"

  private def listVersionFiles(): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(manifestRoot)
    val f = fs(manifestRoot)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .flatMap(n => Try(n.stripPrefix("v").stripSuffix(".txt").toLong)
        .toOption)
      .sorted
  }

  /** Highest committed version, or None when the table predates the
    * manifest (legacy warehouse / nothing ever written). */
  private[engine] def manifestVersion(): Option[Long] =
    listVersionFiles().lastOption

  /** Version `v`'s lines; FileNotFoundException once it is pruned. */
  private def readManifestLines(v: Long): List[String] =
    TextFile.lines(hadoopConf, s"$manifestRoot/${versionFileName(v)}")

  /** Leaf dirs of version `v` — header lines (`# key=value`, round-16
    * provenance metadata) are filtered out, so files written before the
    * headers existed parse identically. */
  private def readManifestFile(v: Long): Seq[String] =
    readManifestLines(v).filterNot(_.startsWith("#"))

  /** The operation that published version `v` (`write:<batchTag>`,
    * `merge`, `compact`, `drop:<series>`, `retention:<day>`, `repair`,
    * `bootstrap`) — "write" for pre-header files. */
  private def readManifestOp(v: Long): String =
    readManifestLines(v).collectFirst {
      case l if l.startsWith("# op=") => l.stripPrefix("# op=")
    }.getOrElse("write")

  /** The current committed (version, live leaf dirs) snapshot — the
    * cross-JVM read anchor. Retries once if the resolved version file is
    * pruned between the listing and the read (needs `manifestKeepVersions`
    * publishes inside that window — vanishingly rare, but loud-fail-free
    * is cheap). Leaf paths are RELATIVE, escaped as on disk. */
  private[graft] def currentManifest(): Option[(Long, Seq[String])] = {
    var attempt = 0
    while (attempt < 3) {
      manifestVersion() match {
        case None => return None
        case Some(v) =>
          try return Some((v, readManifestFile(v)))
          catch { case _: java.io.FileNotFoundException => attempt += 1 }
      }
    }
    // versions exist but every read raced a prune: fail LOUD — falling
    // back to a filesystem glob here would silently double-read
    // merge-retired garbage dirs
    throw new java.io.IOException(
      s"manifest resolve for $tablePath raced version pruning 3×")
  }

  /** Full-filesystem leaf listing (`batch/series/day` relative dirs,
    * names escaped as on disk) — the manifest BOOTSTRAP source for a
    * legacy warehouse (trustworthy there: garbage leaf dirs only start
    * to exist once a manifest-era merge retires some). */
  private def fsLeafDirs(): Seq[String] = {
    val f = fs(tablePath)
    val root = new org.apache.hadoop.fs.Path(tablePath)
    if (!f.exists(root)) Seq.empty
    else for {
      b <- f.listStatus(root).toSeq
      if b.isDirectory && b.getPath.getName.startsWith("ingest_batch=")
      s <- f.listStatus(b.getPath).toSeq
      if s.isDirectory && s.getPath.getName.startsWith("series=")
      d <- f.listStatus(s.getPath).toSeq
      if d.isDirectory && d.getPath.getName.startsWith("day=")
    } yield s"${b.getPath.getName}/${s.getPath.getName}/${d.getPath.getName}"
  }

  /** The leaf dirs of one batch directory as present on disk. */
  private def leavesOfBatch(batchTag: String): Seq[String] = {
    val f = fs(tablePath)
    val root = new org.apache.hadoop.fs.Path(
      s"$tablePath/ingest_batch=$batchTag")
    if (!f.exists(root)) Seq.empty
    else for {
      s <- f.listStatus(root).toSeq
      if s.isDirectory && s.getPath.getName.startsWith("series=")
      d <- f.listStatus(s.getPath).toSeq
      if d.isDirectory && d.getPath.getName.startsWith("day=")
    } yield s"ingest_batch=$batchTag/${s.getPath.getName}/${d.getPath.getName}"
  }

  /** Atomically publish `leaves` as version `v` (tmp write + rename), then
    * prune version files beyond the keep window. Caller holds the table
    * lock, so `v` cannot race another publish. */
  private def publishVersion(v: Long, leaves: Seq[String],
      op: String = "write"): Unit = {
    TextFile.commit(hadoopConf, s"$manifestRoot/${versionFileName(v)}",
      (s"# op=$op" +: leaves.sorted).mkString("\n"))
    listVersionFiles().dropRight(manifestKeepVersions)
      .foreach(old => deletePath(s"$manifestRoot/${versionFileName(old)}"))
  }

  /** Publish `leaves` as the next version; returns it. */
  private def publishLeaves(leaves: Seq[String],
      op: String = "write"): Long = {
    val v = manifestVersion().getOrElse(0L) + 1L
    publishVersion(v, leaves, op)
    v
  }

  /** Current (version, leaves), bootstrapping v1 from the filesystem for
    * a pre-manifest warehouse. Called by every mutator under the table
    * lock before it computes its delta. */
  private def ensureManifest(): (Long, Seq[String]) =
    currentManifest().getOrElse {
      val leaves = fsLeafDirs()
      (publishLeaves(leaves, "bootstrap"), leaves)
    }

  /** MSCK REPAIR TABLE analog — the operator escape hatch for partition
    * directories added OUTSIDE the engine (a restore, a manual copy-in,
    * a foreign tool): re-lists the filesystem and publishes everything
    * found as the next committed version. Ordinary operation never needs
    * it (every engine mutation publishes its own delta). NOTE it also
    * resurrects any merge-retired dirs not yet garbage-collected — run
    * [[vacuum]] FIRST if merges have happened since the external change.
    * Returns the published version. */
  def repairManifest(): Long = writing {
    val v = publishLeaves(fsLeafDirs(), "repair")
    writeVersion += 1
    seriesCache = null
    v
  }

  /** A leaf path's (batch tag, series, day), names unescaped. */
  private def leafParts(leaf: String): (String, String, String) = {
    val Array(b, s, d) = leaf.split("/", 3)
    (unescapePathName(b.stripPrefix("ingest_batch=")),
      unescapePathName(s.stripPrefix("series=")), d.stripPrefix("day="))
  }

  /** The live leaf dirs: the current manifest's or, for a warehouse that
    * predates the manifest, every leaf on disk (listed under the table
    * lock, so an in-process write is seen whole or not at all). Read-only:
    * only a mutation bootstraps a manifest ([[ensureManifest]]). */
  private def liveLeaves(): Seq[String] = currentManifest() match {
    case Some((_, leaves)) => leaves
    case None => Engine.tableLock(tablePath).synchronized(fsLeafDirs())
  }

  private def emptyFrame(schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Scan of the given `ingest_batch` tags: their LIVE leaf dirs only (a
    * merge may have retired some of a batch's leaves in place; a
    * path-glob would resurrect the replaced rows), with physical pruning
    * implicit in the path list. */
  private[engine] def batchSlice(tags: Seq[String]): DataFrame = {
    val want = tags.toSet
    readLeaves(liveLeaves().filter(l => want(leafParts(l)._1)))
  }

  /** A leaf path's (series, day) slice, names unescaped. */
  private def sliceOf(leaf: String): (String, String) = {
    val (_, series, day) = leafParts(leaf)
    (series, day)
  }

  /** Scan of manifest leaf dirs (relative, escaped as on disk) with the
    * canonical schema; a typed empty frame for none. The manifest already
    * names every leaf, so the driver lists each one and hands Spark the
    * file statuses in a pre-filled cache: given the bare paths, Spark
    * lists more than `spark.sql.sources.parallelPartitionDiscovery
    * .threshold` (32) of them with a distributed job, one task per leaf.
    * The listing is fresh on every call — no cache outlives the read, so
    * a retried batch's rewritten directory is never served stale. The
    * relation is the one `spark.read.schema(..).parquet(paths)` builds:
    * same index class, partition inference, schema and column order. */
  private def readLeaves(leaves: Seq[String]): DataFrame =
    if (leaves.isEmpty) emptyFrame(Engine.canonicalSchema)
    else {
      import org.apache.hadoop.fs.{FileStatus, Path}
      import org.apache.spark.sql.execution.datasources.{FileStatusCache,
        HadoopFsRelation, InMemoryFileIndex}
      val f = fs(tablePath)
      val listed = leaves.map { l =>
        val dir = f.makeQualified(new Path(s"$tablePath/$l"))
        // Spark's own listing skips the same hidden names (.crc, _SUCCESS)
        dir -> f.listStatus(dir).filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith(".") && !n.startsWith("_")
        }
      }
      val cache = new FileStatusCache {
        private val byDir = scala.collection.concurrent.TrieMap(listed: _*)
        override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
          byDir.get(p)
        def putLeafFiles(p: Path, files: Array[FileStatus]): Unit =
          byDir.put(p, files)
        def invalidateAll(): Unit = byDir.clear()
      }
      val options = Map("basePath" -> tablePath)
      val index = new InMemoryFileIndex(spark, listed.map(_._1), options,
        Some(Engine.canonicalSchema), cache)
      val partition = index.partitionSchema
      val data = org.apache.spark.sql.types.StructType(Engine.canonicalSchema
        .filterNot(c => partition.fieldNames.contains(c.name)))
      spark.baseRelationToDataFrame(HadoopFsRelation(index, partition, data,
        None, new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat, options)(spark))
    }

  /** Continuous downsampling — the reference's "pre-calculated stats" TODO
    * (refluxdb README.md:58) as a streaming materialized rollup: raw lines
    * stream in, windowed per-(series, name) aggregates append to
    * `warehouse/rollup_<bucket>` once the watermark closes each window.
    * Query the rollup instead of raw measurements for dashboard-style
    * reads — at 100 TB that is the difference between scanning minutes
    * and scanning everything.
    */
  def downsampleStream(lines: DataFrame, bucket: String, watermark: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val safe = bucket.replaceAll("[^A-Za-z0-9]", "_")
    IngestPipeline.parseLines(spark, lines)
      .withWatermark("time", watermark)
      .groupBy(window(col("time"), bucket), col("series"), col("name"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .select(col("window.start").as("bucket_start"), col("series"),
        col("name"), col("n"), col("sum_v"), col("min_v"), col("max_v"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .format("parquet")
      .option("path", s"$warehouse/rollup_$safe")
      .start()
  }

  /** The rollup table maintained by [[downsampleStream]]. */
  def rollup(bucket: String): DataFrame =
    spark.read.parquet(
      s"$warehouse/rollup_${bucket.replaceAll("[^A-Za-z0-9]", "_")}")

  // -------------------------------------------------- side-store registry

  /** Every derived store kept beside the table, listed once: the store
    * catch-up after a mutation or crash replay ([[catchUpStores]]),
    * [[vacuum]] and the SQL surface loop over this list instead of
    * naming stores. */
  private[engine] lazy val sideStores: Seq[SideStore] = Seq(sketchStore,
    histStore, statsStore, similarStore, searchStore, tagStore, cqStore)

  /** A store kept as parquet: `root` is the staged-swap unit, `data` the
    * directory read back (the root itself unless overridden). */
  private abstract class ParquetStore(val name: String, ddl: String)
      extends SideStore {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    def root = s"$warehouse/$name"
    def data = root
    def sqlTables: Seq[(String, () => DataFrame)] =
      Seq(name -> (() => table()))
    def exists: Boolean = { recoverSideTable(root); pathExists(data) }
    def table(): DataFrame =
      if (exists) spark.read.schema(schema).parquet(data)
      else emptyFrame(schema)
  }

  /** A store rebuilt from the whole table, partitioned by `by`. It keeps
    * no ledger, so catching it up rebuilds it: a table mutation rebuilds
    * it when it is built. */
  private class RebuiltStore(name: String, ddl: String, by: String,
      build: () => DataFrame) extends ParquetStore(name, ddl) {
    def rebuild(): Unit = refreshing(catchUp)
    def catchUp(at: Pinned): Unit =
      if (Engine.this.exists) atomicOverwrite(build(), root, Seq(by))
  }

  /** A store of mergeable partials kept by folding leaves — the
    * [[graft.operators.IncrementalRollup]] discipline wired to REAL
    * ingestion-time deltas. `<root>/data` holds the partials (partitioned
    * by `by`) and `<root>/REGISTRY` the store's [[Ledger]]. Both land
    * together under one [[stagedSwap]], so [[recoverSideTable]]'s `.old`
    * recovery covers the pair. A catch-up ([[catchUpLedger]]) keeps the
    * stored partials outside the dirty slices, folds `partial` over the
    * leaves it is handed and `merge`s the two, so it reads the new leaves
    * and the store, never the whole table. Every partial is keyed by
    * (series, day) or finer, which is what makes dropping and refolding
    * a dirty slice exact. */
  private class FoldStore(name: String, ddl: String, by: Seq[String],
      partial: DataFrame => DataFrame, merge: DataFrame => DataFrame)
      extends ParquetStore(name, ddl) {
    override def data = s"$root/data"

    def refresh(): Unit = refreshing(catchUp)

    def catchUp(at: Pinned): Unit =
      if (Engine.this.exists) catchUpLedger(root, at) { (base, dirty, fold) =>
        val kept = base.fold(emptyFrame(schema))(_ =>
          spark.read.schema(schema).parquet(data).filter(outside(dirty)))
        val rows = merge(kept.unionByName(partial(readLeaves(fold))))
        stagedSwap(root) { staging =>
          val w = (if (by.isEmpty) rows else rows.repartition(by.map(col): _*))
            .write.mode("overwrite")
          (if (by.isEmpty) w else w.partitionBy(by: _*))
            .parquet(s"$staging/data")
          writeLedger(staging, at)
        }
      }
  }

  /** A store's [[Ledger]] under `root` (None when not built). */
  private def ledger(root: String): Option[Ledger] =
    Ledger.read(hadoopConf, root)

  /** Record that the store under `root` covers the leaves of `at`. */
  private def writeLedger(root: String, at: Pinned,
      segs: Seq[String] = Nil): Unit =
    Ledger.write(hadoopConf, root, Ledger(at.leaves.toSet, at.version, segs))

  /** The one catch-up frame of a store with a [[Ledger]] under `root`
    * (the fold stores, the search store, each CQ): it brings the store
    * from the leaves its ledger covers, L, to the leaves of `at`, L′.
    * The dirty (series, day) slices are those of the leaves in L − L′.
    * `body(base, dirty, fold)` drops the store's rows of the dirty
    * slices, folds `fold` — the live leaves of the dirty slices plus every
    * leaf of L′ − L outside them — and writes a ledger naming `at` with
    * its data. That is exact for appends, merges (an emptied slice has no
    * live leaf), retention and drops. `base` is None when the store is
    * not built (no ledger, or an older layout): L is then empty and the
    * body starts from an empty store. A ledger at or past `at` is left
    * alone (a fold never moves a store back), and one whose next publish
    * is a compaction first takes that version's leaves without touching
    * data: a compaction changes no row. With nothing to fold, only the
    * ledger moves. Returns the number of slices the body recomputed (0
    * when it did not run). Takes no lock: callers hold the frame. */
  private def catchUpLedger(root: String, at: Pinned)(
      body: (Option[Ledger], Set[(String, String)], Seq[String]) => Unit)
      : Long = {
    recoverSideTable(root)
    ledger(root) match {
      case Some(l) if l.version >= at.version => 0L
      case stored =>
        val base = stored.map(afterCompaction)
        val known = base.fold(Set.empty[String])(_.leaves)
        val dirty = (known -- at.leaves).map(sliceOf)
        val fold = at.leaves.filter(l => !known(l) || dirty(sliceOf(l)))
        if (base.nonEmpty && fold.isEmpty && dirty.isEmpty) {
          writeLedger(root, at, base.get.segs)
          0L
        } else {
          body(base, dirty, fold)
          (dirty ++ fold.map(sliceOf)).size.toLong
        }
    }
  }

  /** `l` moved to the leaves of the next version when a compaction
    * published it: a compaction keeps every row and rewrites only the
    * leaf dirs. */
  private def afterCompaction(l: Ledger): Ledger = {
    val next = l.version + 1
    val compacted = try readManifestOp(next) == "compact"
      catch { case _: java.io.FileNotFoundException => false }
    if (compacted) Ledger(readManifestFile(next).toSet, next, l.segs) else l
  }

  /** Rows outside the `dirty` (series, day) slices, as a predicate over
    * a frame's `series` and `day` columns. */
  private def outside(dirty: Set[(String, String)]): Column =
    if (dirty.isEmpty) lit(true)
    else !concat(col("series"), lit(cellKeySep), col("day").cast("string"))
      .isin(dirty.toSeq.map { case (s, d) => s + cellKeySep + d }: _*)

  /** Catch every built store up to the current manifest, under the table
    * lock: the one step a merge, a delete, a compaction and each of their
    * crash replays ends with. The caller already holds the maintenance
    * lock or is crash recovery (under the table lock alone, which must
    * not take the maintenance lock after it). */
  private def catchUpStores(): Unit = writing {
    val at = pin()
    sideStores.filter(_.exists).foreach(_.catchUp(at))
  }

  /** The manifest version a store ledger is compared with (0 before the
    * table's first publish). */
  private def tableVersion: Long = manifestVersion().getOrElse(0L)

  /** The one freshness rule: the store under `root` is current iff its
    * ledger exists and covers the table's current manifest version. It
    * holds across restarts and JVMs — the ledger and the manifest are
    * both on disk. */
  private def storeCurrent(root: String): Boolean = {
    recoverSideTable(root)
    ledger(root).exists(_.version == tableVersion)
  }

  /** Staged swap, the one way a side store is replaced: `fill` writes
    * the new version under a `.staging` sibling, the previous version
    * renames out to `.old`, staging renames in — readers never see a
    * half-written store, and a crash leaves the previous version live or
    * restorable from `.old` ([[recoverSideTable]]; [[vacuum]] clears
    * orphans). The rename pair holds the path's swap lock, which a
    * reader's `.old` restore takes too, so the restore never lands
    * between the two renames. */
  private def stagedSwap(path: String)(fill: String => Unit): Unit = {
    val staging = path + ".staging"
    val old = path + ".old"
    deletePath(staging)
    deletePath(old)
    fill(staging)
    Engine.swapLock(path).synchronized {
      if (pathExists(path) && !renamePath(path, old))
        throw new java.io.IOException(s"staged swap: cannot stage out $path")
      swapHook(path)
      if (!renamePath(staging, path)) {
        renamePath(old, path)
        throw new java.io.IOException(s"staged swap: cannot swap in $staging")
      }
    }
    deletePath(old)
  }

  /** Test-only interception point: fires inside [[stagedSwap]] between
    * its two renames, with the store path out at `.old` (specs park a
    * swap here). A no-op in production. */
  private[graft] var swapHook: String => Unit = _ => ()

  private def atomicOverwrite(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = stagedSwap(path) { staging =>
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging)
  }

  // ------------------------------------------------------- sketch rollups

  /** Materialize per-(series, day) MERGEABLE distinct-count sketches — the
    * "pre-calculated stats" the reference plans (README.md:58) done the
    * only way that scales: an HLL sketch is an associative summary, so a
    * RANGE query unions the per-day sketches instead of rescanning raw
    * data. A refresh folds only the leaves not yet folded ([[FoldStore]]):
    * their per-(series, day) sketches union into the stored ones, so it
    * never rescans the table; the rollup is O(series × days) rows
    * regardless of raw volume. At 100 TB this is the difference between
    * a dashboard's distinct-cardinality panel scanning terabytes and
    * reading kilobytes.
    *
    * Sketched dimensions: distinct field VALUES (rendered to string — HLL
    * input must be hashable bytes, and the rendering is deterministic)
    * and distinct TAG SETS per (series, day), plus exact row counts. */
  def sketchRollup(): Unit = sketchStore.refresh()

  private lazy val sketchStore = new FoldStore("sketch_daily",
    "day DATE, n_rows BIGINT, value_sketch BINARY, tagset_sketch BINARY, " +
      "series STRING", Seq("series"), _
      .withColumn("vkey", concat_ws("\u0000", col("name"),
        coalesce(col("value").cast("string"), lit("")),
        coalesce(col("value_long").cast("string"), lit("")),
        coalesce(col("value_str"), lit("")),
        coalesce(col("value_bool").cast("string"), lit(""))))
      // key-sorted entries: the same tag SET must hash identically
      // whatever order the tags arrived in on the wire (to_json of the
      // raw map is insertion-order sensitive - review fix)
      .withColumn("tkey",
        to_json(map_from_entries(array_sort(map_entries(col("tags"))))))
      .groupBy(col("series"), col("day"))
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_agg(col("vkey")).as("value_sketch"),
        hll_sketch_agg(col("tkey")).as("tagset_sketch")),
    _.groupBy(col("series"), col("day"))
      .agg(sum(col("n_rows")).as("n_rows"),
        hll_union_agg(col("value_sketch")).as("value_sketch"),
        hll_union_agg(col("tagset_sketch")).as("tagset_sketch")))

  /** The per-(series, day) sketch table written by [[sketchRollup]] -
    * typed empty frame when no rollup was ever built (empty-not-error
    * posture, deviation D4). */
  def sketchTable(): DataFrame = sketchStore.table()

  /** Approximate distinct field-values / tag-sets for one series over an
    * inclusive day range — answered ENTIRELY from the sketch rollup: the
    * per-day sketches union associatively (`hll_union_agg`), no raw scan.
    * Day filters prune on the rollup's own partition/stats. */
  def approxDistinct(series: String, fromDay: String, toDay: String): DataFrame =
    sketchTable()
      .filter(col("series") === series &&
        col("day") >= fromDay && col("day") <= toDay)
      .agg(sum(col("n_rows")).as("n_rows"),
        hll_sketch_estimate(hll_union_agg(col("value_sketch")))
          .as("approx_distinct_values"),
        hll_sketch_estimate(hll_union_agg(col("tagset_sketch")))
          .as("approx_distinct_tagsets"))

  /** Approximate tag-set OVERLAP between two series over an inclusive
    * day range — the "which hosts report BOTH metrics" question,
    * answered ENTIRELY from the sketch rollup by inclusion-exclusion:
    * |A∩B| ≈ |A| + |B| − |A∪B|. HLL has no intersection operator —
    * I-E over the union sketch is the standard estimator, and its
    * absolute error is bounded by the UNION's estimate error (grows
    * when the overlap is a small fraction of a large union — the
    * documented trade a caller accepts for a no-raw-scan answer).
    * The pair algebra is one aggregate over the two series' rollup
    * rows; `greatest(..., 0)` clamps the estimator's possible small
    * negative. */
  def approxOverlap(seriesA: String, seriesB: String, fromDay: String,
      toDay: String): DataFrame = {
    val rows = sketchTable()
      .filter((col("series") === seriesA || col("series") === seriesB) &&
        col("day") >= fromDay && col("day") <= toDay)
    // hll_union_agg over zero (or all-null) rows yields a NULL sketch and
    // hll_sketch_estimate(NULL) is NULL — an empty day range must answer
    // "0 tagsets", not crash the caller's getLong: coalesce each estimate.
    rows
      .agg(
        coalesce(hll_sketch_estimate(hll_union_agg(
          when(col("series") === seriesA, col("tagset_sketch")))), lit(0L))
          .as("tagsets_a"),
        coalesce(hll_sketch_estimate(hll_union_agg(
          when(col("series") === seriesB, col("tagset_sketch")))), lit(0L))
          .as("tagsets_b"),
        coalesce(hll_sketch_estimate(hll_union_agg(col("tagset_sketch"))),
          lit(0L))
          .as("tagsets_union"))
      .select(col("tagsets_a"), col("tagsets_b"), col("tagsets_union"),
        greatest(col("tagsets_a") + col("tagsets_b") -
          col("tagsets_union"), lit(0L)).as("approx_overlap"))
  }

  // ----------------------------------------- quantile histogram rollup

  /** Bin math lives in [[graft.operators.LogHistogram]] — ONE definition
    * shared with the streaming histogram (st18), so the per-day rollup
    * and the online form are the same mergeable summary by
    * construction: 1% log bins (≤ ~0.5% relative quantile error),
    * catalog-sized whatever the row count, merged by count addition —
    * the percentile analog of what HLL sketches give distinct counts
    * (exact percentile needs the raw values; percentile_approx's
    * summary is not persistable; bins are). */
  private def binExpr(v: Column): Column =
    graft.operators.LogHistogram.binExpr(v)

  /** Materialize the per-(series, day, field) value histogram — one
    * hash aggregate over the leaves not yet folded (map-side
    * combinable: partials are (bin → count) maps far smaller than the
    * data), whose bin counts add onto the stored ones ([[FoldStore]]);
    * the same maintenance cadence as [[sketchRollup]]. */
  def histogramRollup(): Unit = histStore.refresh()

  private lazy val histStore = new FoldStore("hist_daily",
    "day DATE, name STRING, bin BIGINT, cnt BIGINT, series STRING",
    Seq("series"), _
      .filter(col("value").isNotNull)
      .groupBy(col("series"), col("day"), col("name"),
        binExpr(col("value")).as("bin"))
      .agg(count(lit(1)).as("cnt")),
    _.groupBy(col("series"), col("day"), col("name"), col("bin"))
      .agg(sum(col("cnt")).as("cnt")))

  /** The histogram rollup table (typed empty frame when never built —
    * empty-not-error posture, deviation D4). */
  def histTable(): DataFrame = histStore.table()

  /** Approximate quantiles of one field of one series over an inclusive
    * day range, answered ENTIRELY from the histogram rollup: per-day
    * bins merge by count addition (associative, order-free), then the
    * quantile is the first bin whose cumulative weight reaches q·N.
    * ≤ ~0.5% relative error by bin construction, any day range, no raw
    * scan. The cumulative window is global but runs over a CATALOG-sized
    * frame (≤ a few thousand distinct bins — bounded by value dynamic
    * range, independent of row count). Empty range → empty frame. */
  def approxQuantiles(series: String, name: String, fromDay: String,
      toDay: String,
      qs: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame =
    graft.operators.LogHistogram.quantiles(
      histTable()
        .filter(col("series") === series && col("name") === name &&
          col("day") >= fromDay && col("day") <= toDay)
        .groupBy(col("bin")).agg(sum(col("cnt")).as("w")),
      qs)

  // ---------------------- incremental maintained stats (the IVM store)

  /** Per-(series, day, name) numeric-field stats maintained
    * INCREMENTALLY ([[FoldStore]]): a refresh scans ONLY the unfolded
    * leaves (the manifest's path list makes the delta scan physical)
    * then merges their
    * distributive partials (count / DECIMAL(28,6)-exact sum / min / max
    * — 22 integer digits of headroom, order-free) into the stored ones,
    * so the refresh cost is proportional to NEW data — at 100 TB that is
    * the difference between a nightly maintenance job re-reading the
    * corpus and one that reads the day's arrivals. Retention and drops
    * remove leaves, whose slices the next catch-up drops, so the store
    * never reports expired data. */
  def statsRefresh(): Unit = statsStore.refresh()

  private lazy val statsStore = new FoldStore("stats_daily",
      "series STRING, day DATE, name STRING, n BIGINT, " +
        "sum_v DECIMAL(28,6), min_v DOUBLE, max_v DOUBLE", Nil, rows => {
      // BOTH numeric carriers fold in: line-protocol floats land in
      // `value`, `42i` integers in `value_long` — a field's stats must
      // not depend on which typed column the wire format chose
      val v = coalesce(col("value"), col("value_long").cast("double"))
      rows.filter(v.isNotNull)
        .groupBy(col("series"), col("day"), col("name"))
        .agg(count(lit(1)).as("n"), sum(v.cast("decimal(28,6)")).as("sum_v"),
          min(v).as("min_v"), max(v).as("max_v"))
    },
    _.groupBy(col("series"), col("day"), col("name"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_v")).cast("decimal(28,6)").as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))) {
    override def sqlTables = Nil
  }

  /** The maintained stats table — typed empty frame when never built
    * (empty-not-error posture, D4). */
  def statsTable(): DataFrame = statsStore.table()

  def statsStoreExists: Boolean = statsStore.exists

  /** Per-day stats of one field of one series over an optional
    * inclusive day range — answered ENTIRELY from the maintained store
    * (no raw scan at request time; avg derives from the (sum, n)
    * partials, the IncrementalRollup readout contract). */
  def stats(series: String, name: String, fromDay: Option[String] = None,
      toDay: Option[String] = None): DataFrame =
    statsTable()
      .filter(col("series") === series && col("name") === name)
      .filter(fromDay.map(d => col("day") >= to_date(lit(d)))
        .getOrElse(lit(true)))
      .filter(toDay.map(d => col("day") <= to_date(lit(d)))
        .getOrElse(lit(true)))
      .select(col("day"), col("n"),
        col("sum_v").cast("double").as("sum_v"),
        (col("sum_v") / col("n")).cast("double").as("avg_v"),
        col("min_v"), col("max_v"))
      .orderBy(col("day"))

  /** Linear trend of one field of one series over an optional inclusive
    * day range — the serving form of q_predict_linear (PromQL's
    * deriv/predict_linear): OLS slope in micro-cents/second and the
    * value the line reaches one hour past the range's last point, from
    * the same exact-int64 sums and the same fixed-order final formula as
    * the oracle-gated query (time re-anchored at the range's first point
    * keeps Σt² bounded at any retention age). Two passes over the
    * statically-pruned (series, day) partitions: one min(time) to anchor,
    * one five-sum aggregate — both driver-sized answers. Returns
    * (n, Some(deriv_micro, predict_micro)); None when the fit is
    * undetermined (n < 2 or all points simultaneous). */
  def trend(series: String, name: String, fromDay: Option[String],
      toDay: Option[String]): (Long, Option[(Long, Long)]) = {
    if (!exists) return (0L, None)
    val b0 = table().filter(col("series") === series &&
      col("name") === name && col("value").isNotNull)
    val b1 = fromDay.map(f => b0.filter(col("day") >= f)).getOrElse(b0)
    val pts = toDay.map(t => b1.filter(col("day") <= t)).getOrElse(b1)
      .select(unix_micros(col("time")).as("us"),
        round(col("value") * 100).cast("long").as("cv"))
    pts.cache()
    try {
      val m = pts.agg(min(col("us"))).head()
      if (m.isNullAt(0)) (0L, None)
      else {
        val anchor = m.getLong(0)
        val r = pts
          .withColumn("tt", expr(s"(us - ${anchor}L) div 1000000"))
          .agg(count(lit(1)).as("n"), sum(col("tt")).as("st"),
            sum(col("cv")).as("sv"), sum(col("tt") * col("cv")).as("stv"),
            sum(col("tt") * col("tt")).as("stt"), max(col("tt")).as("tmax"))
          .head()
        val (n, st, sv, stv, stt, tmax) = (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        val den = n.toDouble * stt.toDouble - st.toDouble * st.toDouble
        if (n < 2 || den <= 0.0) (n, None)
        else {
          val slope = (n.toDouble * stv.toDouble -
            st.toDouble * sv.toDouble) / den
          val deriv = math.floor(slope * 1000000.0 + 0.5).toLong
          val predict = math.floor(
            ((sv.toDouble - slope * st.toDouble) / n.toDouble
              + slope * (tmax.toDouble + 3600.0)) * 1000000.0 + 0.5).toLong
          (n, Some((deriv, predict)))
        }
      }
    } finally pts.unpersist()
  }

  /** Binary-segmentation changepoint of one field of one series over an
    * optional inclusive day range — the serving form of q_changepoint
    * (Scott & Knott 1974; the offline answer to "WHEN did this metric's
    * level shift", next to /trend's "where is it heading"): argmax over
    * t of the pure-integer scaled CUSUM deviation |n·S_t − t·S_n|,
    * earliest-t tiebreak, segment means as micro intDivs of the same
    * exact cent sums — all identical to the oracle-gated query.
    * Rounding semantics of the segment means: JVM `/` TRUNCATES toward
    * zero, so (st·10000 + rn/2)/rn is half-up for non-negative segment
    * sums and half-DOWN-in-magnitude for negative ones (a negative
    * cents sum truncates toward zero) — the same arithmetic
    * q_changepoint's oracle twin computes (DuckDB `//` on the same
    * integers), so the engines agree bit-for-bit either way; stated
    * here because "half-up" is only literally true for st ≥ 0.
    * The windows run UNPARTITIONED by design: this is single-series
    * serving over a statically-pruned (series, day) slice (driver-sized
    * answer); the fleet-wide per-series form is q_changepoint itself.
    * Returns (n, Some(cp_us, score, mean_left_micro, mean_right_micro));
    * None when undetermined (n < 2). */
  def changepoint(series: String, name: String, fromDay: Option[String],
      toDay: Option[String]): (Long, Option[(Long, Long, Long, Long)]) = {
    if (!exists) return (0L, None)
    import org.apache.spark.sql.expressions.Window
    val b0 = table().filter(col("series") === series &&
      col("name") === name && col("value").isNotNull)
    val b1 = fromDay.map(f => b0.filter(col("day") >= f)).getOrElse(b0)
    val pts = toDay.map(t => b1.filter(col("day") <= t)).getOrElse(b1)
      .select(unix_micros(col("time")).as("us"), col("id"),
        round(col("value") * 100).cast("long").as("cv"))
    val wOrd = Window.orderBy(col("us"), col("id"))
    val wAll = Window.partitionBy()
    val best = pts
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("st", sum(col("cv")).over(wOrd.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sn", sum(col("cv")).over(wAll))
      .filter(col("rn") < col("n"))
      .withColumn("score", abs(col("n") * col("st")
        - col("rn") * col("sn")))
      .orderBy(col("score").desc, col("rn")).limit(1)
      .head(1)
    best.headOption match {
      case None => (pts.count(), None)
      case Some(r) =>
        val (us, rn, st, n, sn, score) = (r.getAs[Long]("us"),
          r.getAs[Long]("rn"), r.getAs[Long]("st"), r.getAs[Long]("n"),
          r.getAs[Long]("sn"), r.getAs[Long]("score"))
        (n, Some((us, score,
          (st * 10000 + rn / 2) / rn,
          ((sn - st) * 10000 + (n - rn) / 2) / (n - rn))))
    }
  }

  /** "Which series co-move with this one" — correlation search over the
    * TSDB (the Netflix-Atlas/outlier-triage feature): Pearson r between
    * the target's hourly mean of `name` and every other series' hourly
    * mean of the same field over an optional day range, top-k by |r|
    * (series-name tiebreak), requiring ≥ 3 common hours so r is
    * defined. Shape: one fact-sized (series, hour) agg (map-side
    * combinable), the target's hour vector is range-bounded →
    * broadcast, the per-series corr is one hash agg — no pairwise
    * series×series work anywhere (the probe is ONE series; the
    * all-pairs form is a batch job, not a serving call). Serving
    * readout (no DuckDB twin): r is double, rounded to 6. */
  def correlate(series: String, name: String, fromDay: Option[String],
      toDay: Option[String], k: Int = 5): Seq[(String, Double, Long)] = {
    // GET /correlate's serving cache — the [[profileRows]] discipline
    // (round-14 VERDICT #7): version-keyed memoization of the collected
    // driver-sized answer
    val key = (series, name, fromDay, toDay, k)
    val v0 = writeVersion
    val hit = correlateCache.get(key)
    if (hit != null && hit._1 == v0) hit._2
    else {
      val rows = correlateCompute(series, name, fromDay, toDay, k)
      if (writeVersion == v0) {
        // bounded like profileCache — the key space is user-supplied
        if (correlateCache.size >= 512) correlateCache.clear()
        correlateCache.put(key, (v0, rows))
      }
      rows
    }
  }

  private val correlateCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, String, Option[String], Option[String], Int),
      (Long, Seq[(String, Double, Long)])]()

  private def correlateCompute(series: String, name: String,
      fromDay: Option[String], toDay: Option[String], k: Int)
      : Seq[(String, Double, Long)] = {
    if (!exists) return Seq.empty
    val b0 = table().filter(col("name") === name && col("value").isNotNull)
    val b1 = fromDay.map(f => b0.filter(col("day") >= f)).getOrElse(b0)
    val hourly = toDay.map(t => b1.filter(col("day") <= t)).getOrElse(b1)
      .groupBy(col("series"), date_trunc("hour", col("time")).as("hr"))
      .agg(avg(col("value")).as("v"))
    val tgt = hourly.filter(col("series") === series)
      .select(col("hr"), col("v").as("tv"))
    hourly.filter(col("series") =!= series)
      .join(broadcast(tgt), Seq("hr"))
      .groupBy(col("series"))
      .agg(corr(col("v"), col("tv")).as("r"), count(lit(1)).as("nh"))
      .filter(col("nh") >= 3 && col("r").isNotNull)
      .orderBy(abs(col("r")).desc, col("series"))
      .limit(k)
      .collect()
      .map(r => (r.getString(0),
        math.rint(r.getDouble(1) * 1e6) / 1e6, r.getLong(2))).toSeq
  }

  // ------------------------------------------------------ similarity index

  /** Materialize the item-item SERIES-similarity index — the serving
    * form of q_supplier_similarity's aggregate-first cosine (Sarwar et
    * al. WWW'01) applied to the TSDB: per field (`name`), each series is
    * a sparse HOURLY vector of exact cents sums, similarity = cosine
    * over shared hours, top-20 neighbors per (name, series) persisted.
    * The build is the oracle-gated batch plan exactly: ONE fact-sized
    * (name, series, hour) cents agg is the only data-sized stage; pair
    * generation is MAP-SIDE from per-hour series vectors (each unordered
    * pair emitted once — the measured 2.4× win over the m⋈m self-join,
    * JoinQueries q_supplier_similarity note); dot/norm reductions are
    * exact int64 over integer cents; norms broadcast back (series-domain
    * sized). Persisted partitioned by `name` via [[atomicOverwrite]] so
    * readers never see a half-written index and [[similar]] prunes to
    * one field's partition. Rebuild after ingest (entries missing for
    * new data hide neighbors until the next build); merges, drops and
    * retention rebuild a present index, so deleted or replaced data
    * never answers GET /similar. */
  def buildSimilarityIndex(): Unit = similarStore.rebuild()

  private lazy val similarStore = new RebuiltStore("similar_index",
    "series STRING, rnk BIGINT, similar_series STRING, cos_micro BIGINT, " +
      "name STRING", "name", () => similarRows())

  private def similarRows(): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = table().filter(col("value").isNotNull)
      .groupBy(col("name"), col("series").as("sk"),
        date_trunc("hour", col("time")).as("hr"))
      .agg(sum(round(col("value") * 100).cast("long")).as("q"))
    val norms = m.groupBy(col("name"), col("sk"))
      .agg(sum(col("q") * col("q")).as("n2"))
    val half = m.groupBy(col("name"), col("hr"))
      .agg(sort_array(collect_list(struct(col("sk"), col("q"))))
        .as("ss"))
      .select(col("name"), col("ss"),
        posexplode(col("ss")).as(Seq("i", "sa_s")))
      .select(col("name"), col("sa_s.sk").as("sa"),
        col("sa_s.q").as("qa"),
        explode(slice(col("ss"), col("i") + lit(2),
          size(col("ss")) - col("i") - lit(1))).as("sb_s"))
      .groupBy(col("name"), col("sa"), col("sb_s.sk").as("sb"))
      .agg(sum(col("qa") * col("sb_s.q")).as("dot"))
    val pairs = half.unionAll(half.select(col("name"),
      col("sb").as("sa"), col("sa").as("sb"), col("dot")))
    val w = Window.partitionBy(col("name"), col("sa"))
      .orderBy(col("cos_micro").desc, col("sb"))
    pairs
      .join(broadcast(norms.select(col("name"), col("sk").as("sa"),
        col("n2").as("na2"))), Seq("name", "sa"))
      .join(broadcast(norms.select(col("name"), col("sk").as("sb"),
        col("n2").as("nb2"))), Seq("name", "sb"))
      .withColumn("cos_micro",
        floor(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) *
            sqrt(col("nb2").cast("double"))) * 1000000.0 + 0.5)
          .cast("long"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 20)
      .select(col("sa").as("series"), col("rnk"),
        col("sb").as("similar_series"), col("cos_micro"), col("name"))
  }

  /** The persisted neighbor table — typed empty frame when never built
    * (empty-not-error posture, D4). */
  def similarTable(): DataFrame = similarStore.table()

  /** Whether [[buildSimilarityIndex]] has ever persisted an index —
    * lets the API distinguish "no neighbors" from "never built". */
  def similarIndexExists: Boolean = similarStore.exists

  /** The serving read behind GET /similar: top-k STORED neighbors of one
    * (series, field). Exposed as a DataFrame so the spec can assert the
    * plan scans ONLY the persisted index (partition-pruned to `name`) —
    * never the fact table; reading the rollup instead of recomputing it
    * is the entire point of persisting it. */
  def similarFrame(series: String, name: String, k: Int): DataFrame =
    similarTable()
      .filter(col("name") === name && col("series") === series &&
        col("rnk") <= k)
      .select(col("rnk"), col("similar_series"), col("cos_micro"))
      .orderBy(col("rnk"))

  /** Driver-sized readout of [[similarFrame]]: (rank, neighbor,
    * cos_micro) rows. */
  def similar(series: String, name: String,
      k: Int = 5): Seq[(Long, String, Long)] =
    similarFrame(series, name, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  // ----------------------------------------------------------- text search

  private def searchPath = searchStore.root

  /** Doc-cell key separator for the forward index / MMR pool keys: NUL
    * cannot appear in a token or partition value, so the concatenated
    * (series, name, t_us) key is collision-free. Built via 0.toChar (not
    * a \u escape) so the source stays greppable. */
  private val cellKeySep = 0.toChar.toString

  /** Logical postings row (the [[searchTable]] diagnostic view): one row
    * per (doc cell, token) with the denormalized global statistics. */
  private val searchSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "tk STRING, series STRING, name STRING, t_us BIGINT, tf BIGINT, " +
      "df BIGINT, dl BIGINT, n_docs BIGINT, sum_dl BIGINT, tbkt INT")

  private val forwardSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "dkey STRING, tk STRING, dbkt INT")

  // ------------------------------------------------- segmented postings
  // Round-15 VERDICT #4: the store is a sequence of APPEND-ONLY SEGMENTS
  // (the Lucene shape) so a refresh costs the DELTA — tokenize the
  // unseen batches, write one new segment, commit — instead of the
  // index-sized postings rewrite the round-15 form paid per refresh.
  //
  //   search_index/
  //     REGISTRY                 the store's [[Ledger]], one atomic text
  //                              file: folded leaves, the covered
  //                              manifest version, the live segment
  //                              list and each segment's MERGEABLE totals
  //     segments/s<n>/partials/  per-(doc cell, token) tf, tbkt-
  //                              partitioned (the term-bucket serving
  //                              prune) + a dbkt column for cell joins
  //     segments/s<n>/dl/        per-doc-cell token count, dbkt-
  //                              partitioned (cell-bucket pruning)
  //     segments/s<n>/forward/   doc-cell → distinct tokens (MMR re-rank)
  //
  // EXACT semantics under merge-on-read (a doc cell may SPAN segments —
  // cross-batch writes to one (series, field, µs) cell concatenate):
  //  - tf: serving re-groups per (cell, token) across segments, SUM —
  //    spanning pairs collapse to one row with the summed tf;
  //  - df: NOT stored — recomputed at serving time from the term-pruned
  //    rows themselves (count of distinct cells per term after the
  //    regroup), so it is exact by construction and can never go stale;
  //  - dl: per-segment cell sums, SUMMED across segments at the join
  //    (additive — a cell's length is the sum of its per-segment parts);
  //  - n_docs: per-segment count of cells NEW at fold time (an anti-join
  //    of the delta's cells against the prior segments' dl stores,
  //    pruned to the delta's dbkt buckets — delta-cell-domain work), so
  //    the registry totals SUM exactly; sum_dl: per-segment token
  //    counts, plainly additive.
  // The COMMIT is the REGISTRY rewrite (tmp + rename, one atomic file):
  // a segment dir renamed in before a crash is inert garbage until
  // registered and is GC'd by the next refresh. A catch-up with dirty
  // slices (merge / dropSeries / retention) and a rebuild take the
  // COMPACT path — all segments fold into one with the dirty slices
  // dropped and totals recomputed exactly (mutation cost, not refresh
  // cost); the append path also compacts opportunistically past
  // [[searchMaxSegments]] so serving never merges an unbounded tail.
  private val segPartialsSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "series STRING, day DATE, name STRING, t_us BIGINT, dbkt INT, " +
        "tk STRING, tf BIGINT, tbkt INT")

  private val segDlSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "series STRING, name STRING, t_us BIGINT, dl BIGINT, dbkt INT")

  /** The compacted segment's partials carry two extra baked columns
    * (round-16 fast path); reading them with [[segPartialsSchema]]
    * simply prunes the extras, so every merge-on-read consumer is
    * layout-agnostic. */
  private val segPartialsDenormSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "series STRING, day DATE, name STRING, t_us BIGINT, dbkt INT, " +
        "tk STRING, tf BIGINT, tbkt INT, df BIGINT, dl BIGINT")

  /** Segment-count bound before the append path compacts everything into
    * one segment (serving unions the live segments, so the tail must
    * stay bounded — the Lucene tiered-merge idea at its simplest). */
  private val searchMaxSegments = 8

  /** `denorm` (round-16): the segment's partials rows ALSO carry baked
    * global df/dl columns — written only by the COMPACT path (which
    * rewrites the whole store, so baking the stats costs one extra
    * index-sized derivation inside an already index-priced mutation) and
    * valid exactly while the registry lists that ONE segment alone
    * (every later mutation either appends a segment or re-compacts, so
    * single-denorm-segment ⟹ the baked stats are current). [[searchFrame]]
    * serves that steady state with the round-15 single-scan plan: no
    * regroup, no df recompute, no dl join. */
  private case class SearchSegment(name: String, nNewDocs: Long,
      sumDl: Long, denorm: Boolean = false) {
    def line: String =
      s"$name\t$nNewDocs\t$sumDl" + (if (denorm) "\tdenorm" else "")
  }

  /** The live segments of the search ledger, in fold order. The optional
    * 4th field is the denorm marker (segments written before round-16
    * carry none → merge-on-read serving, still exact). */
  private def searchSegments(led: Option[Ledger]): Seq[SearchSegment] =
    led.toSeq.flatMap(_.segs).map { l =>
      val f = l.split("\t")
      SearchSegment(f(0), f(1).toLong, f(2).toLong,
        f.length > 3 && f(3) == "denorm")
    }

  private def segPartials(seg: String): DataFrame =
    spark.read.schema(segPartialsSchema)
      .parquet(s"$searchPath/segments/$seg/partials")

  private def segDl(seg: String): DataFrame =
    spark.read.schema(segDlSchema)
      .parquet(s"$searchPath/segments/$seg/dl")

  /** The search store. Its ledger, `REGISTRY`, is also the store's
    * commit point: it lists the live segments beside the folded leaves
    * and the covered manifest version ([[storeCurrent]]). A catch-up
    * ([[catchUpLedger]]) with no dirty slice appends one segment; one with
    * dirty slices compacts, dropping their partials (each doc cell lies
    * in one (series, day) slice). */
  private object searchStore extends SideStore {
    val name = "search_index"
    val root = s"$warehouse/$name"
    def sqlTables = Nil
    def table(): DataFrame = searchTable()
    def exists: Boolean = {
      recoverSideTable(root)
      pathExists(s"$root/REGISTRY")
    }
    def catchUp(at: Pinned): Unit =
      if (Engine.this.exists) catchUpLedger(root, at)(foldSearch(at))
  }

  /** Materialize the PERSISTED BM25 search store over the string-field
    * corpus (every `value_str` measurement row is a document, identified
    * by (series, name, time µs)) from scratch — the serving half of the
    * oracle-gated q_inverted_postings / q_text_bm25 family, in the
    * /similar posture (build once, serve from the store, never scan
    * facts per request). Prefer [[refreshSearchIndex]] for maintenance:
    * it lands in the same state (oracle-gated equivalence,
    * q_search_refresh) while re-tokenizing only unseen batches.
    *
    * Four tables land together under ONE parent via the staging+rename
    * dance (a reader never sees postings from one build with the
    * forward index of another):
    *  - `postings`, denormalized for single-scan serving: every posting
    *    row carries its term's df, its doc's dl and the corpus totals —
    *    [[searchFrame]] needs NO join at request time, just a pruned
    *    scan + per-doc agg + top-k. 64-way term-hash bucket partitioning
    *    (`tbkt`): a q-term query statically prunes to at most q
    *    directories (per-term dirs would be unbounded metadata at a
    *    real vocabulary).
    *  - `forward` (doc to distinct-token set, 64-way doc-hash buckets):
    *    what the MMR re-rank reads — a 20-doc pool fetch prunes to at
    *    most 20 directories (real engines keep forward + inverted for
    *    exactly this).
    *  - `partials` + the `REGISTRY` ledger: the incremental base (see
    *    [[refreshSearchIndex]]).
    *
    * Tokenization: the SHARED TextQueries.searchTokens definition
    * (Unicode codepoint-class split — ONE definition across the index
    * build, the stale-read direct scan, the /search term parser and the
    * DuckDB oracle twin; round-14 VERDICT #3). Staleness:
    * [[searchFrame]] carries the ledger-version guard with a direct-scan
    * fallback (the queryByTag posture), and mergeBatch / dropSeries /
    * applyRetention catch the store up like every other built store. */
  def buildSearchIndex(): Unit =
    refreshing(at => if (exists) foldSearch(at)(None, Set.empty, at.leaves))

  /** INCREMENTAL search-store maintenance (round-14 VERDICT #2; round-15
    * VERDICT #4 made it SEGMENTED): re-tokenizes ONLY the leaves the
    * registry has not folded and APPENDS them as one new segment —
    * tokenize cost, derivation cost AND write cost all track the DELTA
    * (the round-15 form paid an index-sized postings rewrite per
    * refresh; the segment-merge cost is now deferred to the bounded
    * opportunistic compaction, the Lucene economics). Refresh ≡ rebuild
    * end state is oracle-gated (q_search_refresh) and spec-pinned. */
  def refreshSearchIndex(): Unit = refreshing(searchStore.catchUp)

  /** The search store's catch-up body ([[catchUpLedger]]): from `base`
    * (None: an empty store), drop the partials of the `dirty` slices and
    * fold the `fold` leaves, landing a ledger that names `at`. Takes no
    * lock: callers hold the frame. */
  private def foldSearch(at: Pinned)(base: Option[Ledger],
      dirty: Set[(String, String)], fold: Seq[String]): Unit = {
    val segs0 = searchSegments(base)
    def emptySeg = emptyFrame(segPartialsSchema)
    // the ONLY corpus-text work: tokenize the UNSEEN leaves (the
    // manifest's path list), roll up tf per (doc cell, token).
    // Doc identity is the (series, field, time) CELL: multiple rows at
    // one cell (legal — distinct uuids may share a key; merge histories
    // and batch-spanning writes produce them) CONCATENATE into one
    // document, which is why serving re-groups partials by SUM across
    // segments. A tokenless doc participates in nothing (absent from dl
    // AND from n_docs — one consistent convention).
    def tokenizedDelta: DataFrame =
      if (fold.isEmpty) emptySeg
      else readLeaves(fold)
        .filter(col("value_str").isNotNull)
        .select(col("series"), col("day"), col("name"),
          unix_micros(col("time")).as("t_us"),
          explode(graft.queries.TextQueries.searchTokens(col("value_str")))
            .as("tk"))
        .groupBy(col("series"), col("day"), col("name"), col("t_us"),
          col("tk"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("dbkt", pmod(crc32(concat_ws(cellKeySep,
          col("series"), col("name"), col("t_us"))), lit(64)).cast("int"))
        .withColumn("tbkt", pmod(crc32(col("tk")), lit(64)).cast("int"))
        .select(segPartialsSchema.fieldNames.map(col): _*)
    // land a segment's partials, read them back from disk (one
    // tokenize, no in-memory checkpoint), derive its dl + forward
    // stores, return the landed tf frame for totals
    def writeSegmentDirs(segRoot: String, rows: DataFrame): DataFrame = {
      rows.write.mode("overwrite").partitionBy("tbkt")
        .parquet(s"$segRoot/partials")
      val tf = spark.read.schema(segPartialsSchema)
        .parquet(s"$segRoot/partials")
      tf.groupBy(col("series"), col("name"), col("t_us"), col("dbkt"))
        .agg(sum(col("tf")).as("dl"))
        .select(segDlSchema.fieldNames.map(col): _*)
        .write.mode("overwrite").partitionBy("dbkt")
        .parquet(s"$segRoot/dl")
      tf.select(concat_ws(cellKeySep, col("series"), col("name"),
          col("t_us")).as("dkey"), col("tk"), col("dbkt"))
        .distinct()
        .select(forwardSchema.fieldNames.map(col): _*)
        .write.mode("overwrite").partitionBy("dbkt")
        .parquet(s"$segRoot/forward")
      tf
    }
    val compactNow = base.isEmpty || dirty.nonEmpty ||
      segs0.length >= searchMaxSegments
    if (compactNow) {
      // COMPACT path (first build, dirty slices, or a segment tail at
      // the bound): fold the surviving
      // base partials and the delta into ONE segment under a staged
      // root, recompute totals exactly, swap the whole store. The
      // compacted segment is DENORMALIZED (round-16): global df/dl bake
      // into its partials rows — one extra index-sized derivation
      // inside an already index-priced mutation — so steady-state
      // serving (one live segment) is a single pruned scan with no
      // joins, while the stats can never go stale (any later mutation
      // either appends a segment, which disables the fast path, or
      // re-compacts, which re-bakes them).
      val kept = segs0.map(s => segPartials(s.name))
        .reduceOption(_.unionByName(_)).getOrElse(emptySeg)
        .filter(outside(dirty))
      val all = kept.unionByName(tokenizedDelta)
        .groupBy(col("series"), col("day"), col("name"), col("t_us"),
          col("dbkt"), col("tk"), col("tbkt"))
        .agg(sum(col("tf")).as("tf"))
        .select(segPartialsSchema.fieldNames.map(col): _*)
      stagedSwap(searchPath) { staging =>
        val segRoot = s"$staging/segments/s00001"
        // land the folded tf ONCE (plain), derive the global stats from
        // the landed copy (no index-sized memory residency), bake them
        // into the final partials, then derive dl/forward as usual
        all.write.mode("overwrite").partitionBy("tbkt")
          .parquet(s"$segRoot/partials0")
        val tf0 = spark.read.schema(segPartialsSchema)
          .parquet(s"$segRoot/partials0")
        val dfx = tf0.groupBy(col("tk")).agg(count(lit(1)).as("df"))
        val dlx = tf0.groupBy(col("series"), col("name"), col("t_us"))
          .agg(sum(col("tf")).as("dl"))
        val tf = writeSegmentDirs(segRoot, tf0.join(dfx, "tk")
          .join(dlx, Seq("series", "name", "t_us"))
          .select((segPartialsSchema.fieldNames.map(col) :+
            col("df") :+ col("dl")): _*))
        deletePath(s"$segRoot/partials0")
        val tot = tf.groupBy(col("series"), col("name"), col("t_us"))
          .agg(sum(col("tf")).as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
          .head()
        val nDocs = if (tot.isNullAt(0)) 0L else tot.getLong(0)
        val sumDl = if (tot.isNullAt(1)) 0L else tot.getLong(1)
        writeLedger(staging, at,
          Seq(SearchSegment("s00001", nDocs, sumDl, denorm = true).line))
      }
    } else {
      // APPEND path (the steady-state refresh): ONE new segment from
      // the delta — tokenize, land, derive, then the atomic registry
      // rewrite commits it. Work is delta-sized except the n_docs
      // novelty count, which anti-joins the delta's cells against the
      // PRIOR segments' dl stores pruned to the delta's cell buckets
      // (doc-domain metadata, never corpus text). A crash before the
      // registry rewrite leaves an inert unregistered dir, GC'd here.
      val fsys = fs(searchPath)
      val segDir = new org.apache.hadoop.fs.Path(s"$searchPath/segments")
      if (fsys.exists(segDir)) {
        val live = segs0.map(_.name).toSet
        fsys.listStatus(segDir).map(_.getPath.getName)
          .filterNot(live)
          .foreach(o => deletePath(s"$searchPath/segments/$o"))
      }
      val segName = f"s${segs0.map(_.name.stripPrefix("s").toLong)
        .maxOption.getOrElse(0L) + 1}%05d"
      val segStaging = s"$searchPath/segments/$segName.staging"
      deletePath(segStaging)
      val tf = writeSegmentDirs(segStaging, tokenizedDelta)
      val deltaCells = tf
        .select(col("series"), col("name"), col("t_us"), col("dbkt"))
        .distinct()
      val deltaBkts = deltaCells.select(col("dbkt")).distinct()
        .collect().map(_.getInt(0)).toSeq // ≤ 64 values, driver-sized
      val priorCells = segs0.map(s => segDl(s.name)
          .filter(col("dbkt").isin(deltaBkts: _*))
          .select(col("series"), col("name"), col("t_us")))
        .reduceOption(_.unionByName(_))
      val nNew = priorCells match {
        case None => deltaCells.count()
        case Some(p) => deltaCells
          .join(p.distinct(), Seq("series", "name", "t_us"), "left_anti")
          .count()
      }
      val sd = tf.agg(sum(col("tf"))).head()
      val sumDl = if (sd.isNullAt(0)) 0L else sd.getLong(0)
      if (!renamePath(segStaging, s"$searchPath/segments/$segName"))
        throw new java.io.IOException(
          s"search store: cannot commit segment $segName")
      // COMMIT: one atomic file — folded leaves, the covered version and
      // the segment list with its mergeable totals
      writeLedger(searchPath, at,
        (segs0 :+ SearchSegment(segName, nNew, sumDl)).map(_.line))
    }
  }

  /** The LOGICAL postings table — the segment union re-grouped with the
    * denormalized global statistics joined back on (exactly the
    * round-15 physical postings layout, now computed as a view).
    * DIAGNOSTIC surface: index-sized by construction; the serving path
    * ([[searchFrame]]) never evaluates it — it prunes segments by term
    * bucket and recomputes only the query terms' statistics. */
  def searchTable(): DataFrame = {
    recoverSideTable(searchPath)
    val segs = searchSegments(ledger(searchPath))
    if (segs.isEmpty) emptyFrame(searchSchema)
    else {
      val tf = segs.map(s => segPartials(s.name))
        .reduce(_.unionByName(_))
        .groupBy(col("series"), col("name"), col("t_us"), col("tbkt"),
          col("tk"))
        .agg(sum(col("tf")).as("tf"))
      val dl = segs.map(s => segDl(s.name)).reduce(_.unionByName(_))
        .groupBy(col("series"), col("name"), col("t_us"))
        .agg(sum(col("dl")).as("dl"))
      val dfx = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
      tf.join(dfx, "tk")
        .join(dl, Seq("series", "name", "t_us"))
        .withColumn("n_docs", lit(segs.map(_.nNewDocs).sum))
        .withColumn("sum_dl", lit(segs.map(_.sumDl).sum))
        .select(searchSchema.fieldNames.map(col): _*)
    }
  }

  /** The persisted forward index (doc to distinct tokens), unioned
    * across segments — DISTINCT because a doc cell spanning segments
    * repeats its carried-over tokens. */
  private def forwardTable(): DataFrame = {
    recoverSideTable(searchPath)
    val segs = searchSegments(ledger(searchPath))
    if (segs.isEmpty) emptyFrame(forwardSchema)
    else segs.map(s => spark.read.schema(forwardSchema)
        .parquet(s"$searchPath/segments/${s.name}/forward"))
      .reduce(_.unionByName(_)).distinct()
  }

  def searchIndexExists: Boolean = searchStore.exists

  /** Fail-closed stale-store serving policy (round-15 VERDICT #5): when
    * true, a stale search store REJECTS the read (IllegalStateException
    * from [[searchFrame]]; 409 with a refresh hint on GET /search)
    * instead of silently paying the corpus-priced direct scan. Default
    * FALSE — correct-over-fast stays the default posture — but at
    * 100 TB an operator may prefer reject-over-scan (a GET that costs a
    * full tokenize pass is an operational foot-gun); setting this gives
    * /search the /similar 409 posture. ApiServerSpec pins both modes. */
  @volatile var searchFailWhenStale: Boolean = false

  /** True iff the persisted store covers the table's current manifest
    * version ([[storeCurrent]], the rule [[queryByTag]] applies too) —
    * the serving paths below fall back to a direct fact scan when it does
    * not. The ledger and the manifest are both on disk, so a restarted
    * or reader-only JVM sees a store a previous process left behind
    * without refreshing as stale, instead of silently hiding the tail. */
  def searchIndexFresh: Boolean = storeCurrent(searchPath)

  /** The serving read behind GET /search: BM25 top-k over the PERSISTED
    * postings — statically pruned to the query terms' hash buckets,
    * scored with the SHARED TextQueries.bm25Micro formula (the served
    * ranking cannot drift from the oracle-gated q_text_bm25 definition),
    * one per-doc agg, TakeOrdered-k. Exposed as a DataFrame so the spec
    * asserts the plan scans ONLY the store (never the fact table) and
    * carries the tbkt partition filter.
    *
    * STALENESS GUARD (round-14 VERDICT #1): a store whose ledger
    * predates the table's latest published version (ingest, merge,
    * drop, retention — by any JVM) would serve deleted documents and
    * hide new ones ([[searchIndexFresh]]) — those reads route to the
    * direct fact-table scan instead (same tokenizer, same shared
    * formula: correct always, the queryByTag fallback posture).
    * mergeBatch / dropSeries / applyRetention refresh the store
    * themselves and continuous ingest keeps it warm via
    * `searchEveryBatches` — the corpus-priced fallback is the safety
    * net, not the steady state (see [[searchFailWhenStale]] for the
    * fail-closed alternative).
    *
    * SCOPED search (round-15 VERDICT #3 — "these terms, in THIS series,
    * THIS week" is a TSDB corpus's first real query): optional
    * `series` / `fromUs` / `toUs` (inclusive µs) restrict the CANDIDATE
    * documents as filters applied after the term-bucket prune — the
    * postings rows already carry (series, name, t_us), so the scope
    * rides the same store-only scan (parquet row-group stats prune on
    * series/t_us within the surviving term buckets). Scores keep the
    * GLOBAL corpus statistics (df, dl, n_docs, sum_dl) — the Lucene
    * filter-query semantics: a filter restricts candidates, it does not
    * re-weight the corpus — which is also what keeps the scoped read
    * query-sized instead of forcing a per-scope stats recompute. */
  def searchFrame(terms: Seq[String], k: Int): DataFrame =
    searchFrame(terms, k, None, None, None)

  def searchFrame(terms: Seq[String], k: Int, series: Option[String],
      fromUs: Option[Long], toUs: Option[Long]): DataFrame = {
    val tnorm = terms.map(_.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty).distinct
    require(tnorm.nonEmpty, "search: at least one query term required")
    val scope: Seq[Column] = series.map(col("series") === _).toSeq ++
      fromUs.map(col("t_us") >= _) ++ toUs.map(col("t_us") <= _)
    if (!searchIndexFresh) {
      if (searchFailWhenStale)
        throw new IllegalStateException(
          "search store is stale and fail-closed serving is configured " +
            "(searchFailWhenStale) — POST /search/refresh, then retry")
      return directSearchFrame(tnorm, k, scope)
    }
    // driver-side CRC32 matches Catalyst's crc32 (both the standard
    // polynomial over UTF-8 bytes) — the bucket set is query-sized
    val bkts = tnorm.map { t =>
      val c = new java.util.zip.CRC32()
      c.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (c.getValue % 64).toInt
    }.distinct
    val segs = searchSegments(ledger(searchPath))
    if (segs.isEmpty) return directSearchFrame(tnorm, k, scope)
    // ledger totals: exact by the mergeable-totals maintenance
    // (driver metadata — no corpus read)
    val nDocs = segs.map(_.nNewDocs).sum
    val sumDl = segs.map(_.sumDl).sum
    if (segs.length == 1 && segs.head.denorm) {
      // STEADY-STATE FAST PATH (round-16): one compacted segment with
      // baked global df/dl — a single term-bucket-pruned scan, the
      // per-doc agg and top-k; no regroup (compaction folded (cell,
      // token) unique), no df recompute, no dl join. Exact because
      // single-denorm-segment ⟹ no mutation since the bake (see
      // [[SearchSegment]]); scope stays candidate-only, stats global.
      val rows = spark.read.schema(segPartialsDenormSchema)
        .parquet(s"$searchPath/segments/${segs.head.name}/partials")
        .filter(col("tbkt").isin(bkts: _*) && col("tk").isin(tnorm: _*))
      return scope.foldLeft(rows)((df, c) => df.filter(c))
        .withColumn("c_micro", graft.queries.TextQueries.bm25Micro(
          col("tf"), col("df"), col("dl"), lit(nDocs), lit(sumDl)))
        .groupBy(col("series"), col("name"), col("t_us"))
        .agg(count(lit(1)).as("n_terms_hit"),
          sum(col("c_micro")).as("score_micro"))
        .orderBy(col("score_micro").desc, col("series"), col("name"),
          col("t_us"))
        .limit(k)
    }
    // term rows from every live segment, statically pruned to the query
    // terms' tbkt partitions, re-grouped so a doc cell spanning
    // segments scores as ONE document (exact merged tf)
    val termRows = segs.map(s => segPartials(s.name)
        .filter(col("tbkt").isin(bkts: _*) && col("tk").isin(tnorm: _*))
        .select(col("series"), col("name"), col("t_us"), col("dbkt"),
          col("tk"), col("tf")))
      .reduce(_.unionByName(_))
      .groupBy(col("series"), col("name"), col("t_us"), col("dbkt"),
        col("tk"))
      .agg(sum(col("tf")).as("tf"))
    // EXACT global df recomputed from the pruned term rows themselves
    // (count of distinct cells per term) — query-term-domain sized,
    // never stored, never stale. Computed BEFORE the scope filter:
    // scoping restricts candidates, it must not re-weight the corpus.
    val dfx = termRows.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val cand = scope.foldLeft(termRows)((df, c) => df.filter(c))
    // global dl per candidate cell: per-segment cell sums SUMMED across
    // segments. The scan carries the scope predicates and the dbkt
    // partition column rides the join key, so dynamic partition pruning
    // can cut it to the candidates' cell buckets.
    val dl = segs.map(s => scope.foldLeft(
        segDl(s.name))((df, c) => df.filter(c)))
      .reduce(_.unionByName(_))
      .groupBy(col("series"), col("name"), col("t_us"), col("dbkt"))
      .agg(sum(col("dl")).as("dl"))
    cand
      .join(broadcast(dfx.withColumnRenamed("tk", "dtk")),
        col("tk") === col("dtk")).drop("dtk")
      .join(dl, Seq("series", "name", "t_us", "dbkt"))
      .withColumn("c_micro", graft.queries.TextQueries.bm25Micro(
        col("tf"), col("df"), col("dl"), lit(nDocs), lit(sumDl)))
      .groupBy(col("series"), col("name"), col("t_us"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("c_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("series"), col("name"),
        col("t_us"))
      .limit(k)
  }

  /** Staleness fallback for [[searchFrame]]: the same BM25 ranking
    * recomputed DIRECTLY from the fact table — shared tokenizer, shared
    * bm25Micro, identical output shape and total order, so a stale-store
    * read returns exactly the rows a fresh store would (spec-pinned).
    * Corpus-priced (one tokenize pass: dl and the totals need every
    * doc's length even though tf prunes to the query terms) — the cost
    * of correctness until the next refresh, never the steady state.
    * Scope filters restrict CANDIDATES only; df/dl/totals stay global
    * (the [[searchFrame]] filter-query semantics, kept identical here
    * so a stale-store scoped read returns exactly what a fresh store
    * would). */
  private def directSearchFrame(tnorm: Seq[String], k: Int,
      scope: Seq[Column] = Seq.empty): DataFrame = {
    val tf = table().filter(col("value_str").isNotNull)
      .select(col("series"), col("name"),
        unix_micros(col("time")).as("t_us"),
        explode(graft.queries.TextQueries.searchTokens(col("value_str")))
          .as("tk"))
      .groupBy(col("series"), col("name"), col("t_us"), col("tk"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("series"), col("name"), col("t_us"))
      .agg(sum(col("tf")).as("dl"))
    val corp = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tfq = tf.filter(col("tk").isin(tnorm: _*))
    val dfx = tfq.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    scope.foldLeft(tfq)((df, c) => df.filter(c))
      .join(broadcast(dfx.withColumnRenamed("tk", "dtk")),
        col("tk") === col("dtk")).drop("dtk")
      .join(dl, Seq("series", "name", "t_us"))
      .crossJoin(broadcast(corp)) // 1-row corpus totals, no collect
      .withColumn("c_micro", graft.queries.TextQueries.bm25Micro(
        col("tf"), col("df"), col("dl"), col("n_docs"), col("sum_dl")))
      .groupBy(col("series"), col("name"), col("t_us"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("c_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("series"), col("name"),
        col("t_us"))
      .limit(k)
  }

  /** Driver-sized readout of [[searchFrame]]:
    * (series, name, t_us, n_terms_hit, score_micro). */
  def search(terms: Seq[String], k: Int = 10,
      series: Option[String] = None, fromUs: Option[Long] = None,
      toUs: Option[Long] = None)
      : Seq[(String, String, Long, Long, Long)] =
    searchFrame(terms, k, series, fromUs, toUs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq

  /** The MMR pool's (doc, token) pairs: the forward index pruned to the
    * pool's at-most-20 doc-hash buckets when fresh; a fact-table
    * derivation (series-pruned, same tokenizer, distinct pairs) when the
    * store is stale — the [[searchFrame]] fallback discipline applied to
    * the re-rank's second read. */
  private def poolTokenPairs(keys: Seq[String]): DataFrame =
    if (searchIndexFresh) {
      val bkts = keys.map { t =>
        val c = new java.util.zip.CRC32()
        c.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (c.getValue % 64).toInt
      }.distinct
      forwardTable()
        .filter(col("dbkt").isin(bkts: _*) && col("dkey").isin(keys: _*))
        .select(col("dkey"), col("tk"))
    } else {
      val seriesList = keys.map(_.split(cellKeySep)(0)).distinct
      table()
        .filter(col("value_str").isNotNull &&
          col("series").isin(seriesList: _*))
        .select(concat_ws(cellKeySep, col("series"), col("name"),
          unix_micros(col("time"))).as("dkey"),
          explode(graft.queries.TextQueries.searchTokens(col("value_str")))
            .as("tk"))
        .filter(col("dkey").isin(keys: _*))
        .distinct()
    }

  /** MMR-diversified search (Carbonell & Goldstein 1998) — the
    * oracle-gated q_retrieval_mmr recipe as a serving path: BM25
    * top-20 pool from the postings, pairwise token-set Jaccard between
    * pool docs from the FORWARD index (pruned to the pool's at most 20
    * doc-hash buckets — never a postings scan), then the greedy
    * integer re-rank gain = 7·rel − 3·maxsim, emitting min(k, pool)
    * rows. Arithmetic mirrors the gated query exactly (Jaccard micro =
    * i·1e6 div (sa+sb−i), ties broken by pool rank). Driver work is
    * model-sized by construction: 20 pool rows + ≤ 190 sim pairs.
    * Staleness inherits the [[searchFrame]] guard on BOTH reads.
    * Returns (series, name, t_us, rel_micro, mmr_gain). */
  def searchMmr(terms: Seq[String], k: Int = 10)
      : Seq[(String, String, Long, Long, Long)] = {
    val pool = search(terms, 20)
    if (pool.isEmpty) return Seq.empty
    val keys = pool.map(p => p._1 + cellKeySep + p._2 + cellKeySep + p._3)
    val ctok = poolTokenPairs(keys)
    val sizes = ctok.groupBy(col("dkey")).agg(count(lit(1)).as("sz"))
    val sims = ctok.as("a")
      .join(ctok.as("b"), col("a.tk") === col("b.tk") &&
        col("a.dkey") =!= col("b.dkey"))
      .groupBy(col("a.dkey").as("da"), col("b.dkey").as("db"))
      .agg(count(lit(1)).as("i"))
      .join(broadcast(sizes.select(col("dkey").as("da"),
        col("sz").as("sa"))), "da")
      .join(broadcast(sizes.select(col("dkey").as("db"),
        col("sz").as("sb"))), "db")
      .select(col("da"), col("db"),
        floor((col("i") * 1000000L) /
          (col("sa") + col("sb") - col("i"))).cast("long").as("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // greedy, on the model-sized pool: pool order (score desc, doc key)
    // breaks gain ties — deterministic
    val rel = keys.zip(pool.map(_._5))
    val chosen = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long, Long)]
    val byKey = keys.zip(pool).toMap
    for (_ <- 1 to math.min(k, rel.length)) {
      val (doc, r, gain) = rel.iterator
        .filterNot { case (id, _) => chosen.contains(id) }
        .map { case (id, rv) =>
          val ms = chosen.iterator
            .map(c => sims.getOrElse((id, c), 0L)).maxOption.getOrElse(0L)
          (id, rv, 7L * rv - 3L * ms)
        }
        .reduceLeft((x, y) => if (y._3 > x._3) y else x)
      chosen += doc
      val p = byKey(doc)
      out += ((p._1, p._2, p._3, r, gain))
    }
    out.toSeq
  }

  // ------------------------------------------------------------ tag index

  /** Materialize the inverted TAG index — the analog of InfluxDB's
    * in-memory series/tag index, as a table: one row per distinct
    * (tag_k, tag_v, series, day) combination, partitioned by tag key.
    * The index is catalog-sized (bounded by tag cardinality × series ×
    * days, independent of row count), so at 100 TB it is the difference
    * between a tag-filtered query scanning every partition and scanning
    * only the (series, day) partitions that actually contain the tag.
    * A refresh explodes only the leaves not yet folded and unions their
    * distinct tuples into the stored ones ([[FoldStore]]); drops,
    * retention and merges remove leaves, whose slices its catch-up
    * drops and refolds. Its ledger records the
    * manifest version it covers, so a read that predates a write — by
    * this JVM, an earlier one or another one — goes to the direct scan
    * ([[queryByTag]], [[storeCurrent]]). */
  def buildTagIndex(): Unit = tagStore.refresh()

  private lazy val tagStore = new FoldStore("tag_index",
    "series STRING, day DATE, tag_v STRING, tag_k STRING", Seq("tag_k"),
    _.select(col("series"), col("day"),
        explode(col("tags")).as(Seq("tag_k", "tag_v")))
      .distinct(),
    _.distinct())

  /** Crash recovery for side tables, mirroring the main table's
    * [[exists]]-recovery: a [[stagedSwap]] dying between its two
    * renames leaves the table path absent with the previous version
    * intact in `.old` — swap it back rather than serving an empty table
    * (round-5 ADVICE). Two guards keep the recovery from misfiring on a
    * LIVE overwrite's in-between window:
    *  - in-process: the rename runs under the path's swap lock, which
    *    [[stagedSwap]] holds across its two renames (lock-free fast path
    *    for the healthy case). Not the table lock: a background
    *    [[maintenanceRound]] swaps stores without holding it;
    *  - cross-JVM: recovery is skipped (with a LOUD warning) while a
    *    FOREIGN writer lease exists — that window may be another JVM's
    *    live swap. Note a crashed writer's own restart also reads as
    *    foreign (writer ids are per-process): the single-writer posture
    *    already defines that protocol — the operator runs
    *    [[breakWriterLease]], after which reads recover; any WRITE path
    *    self-heals sooner by simply rebuilding the derived side table.
    *    The warning makes the until-then empty reads diagnosable instead
    *    of silent.
    */
  private def recoverSideTable(path: String): Unit =
    if (!pathExists(path) && pathExists(path + ".old"))
      Engine.swapLock(path).synchronized {
        // re-check under the lock: the writer may have completed the swap
        val holder = leaseHolder()
        val foreign = holder.exists(_ != Engine.writerId)
        if (foreign)
          logWarning(s"$path is missing with a recovery copy at " +
            s"$path.old, but the warehouse writer lease belongs to JVM " +
            s"${holder.get} — skipping recovery (live swap or crashed " +
            "writer). If that writer crashed, run breakWriterLease() or " +
            "rebuild the side table; reads serve EMPTY until then.")
        else if (!pathExists(path) && pathExists(path + ".old"))
          renamePath(path + ".old", path)
      }

  /** The inverted tag index written by [[buildTagIndex]] — typed empty
    * frame when never built (empty-not-error posture, D4). Deletes and
    * merges keep it exact; entries MISSING for data ingested since the
    * last refresh hide rows — refresh after ingest, or drive it from the
    * ingestStream maintenance slot. */
  def tagIndex(): DataFrame = tagStore.table()

  /** Tag metadata source for the SHOW-style reads: the materialized index
    * when built, otherwise a DIRECT (unmaterialized) scan of the table.
    * READ-ONLY on purpose — a metadata read must never write, so it can
    * never acquire (let alone steal) the warehouse writer lease; a
    * reader-only JVM stays a reader. Call [[buildTagIndex]] from the
    * writer to make these catalog-cheap. */
  private def tagMeta(): DataFrame =
    if (tagStore.exists) tagIndex()
    else if (!exists) tagIndex() // typed empty frame
    else table().select(col("series"), col("day"),
      explode(col("tags")).as(Seq("tag_k", "tag_v")))

  private def distinctSorted(df: DataFrame, c: String): Seq[String] =
    df.select(col(c)).distinct().collect().map(_.getString(0)).toSeq.sorted

  /** InfluxDB `SHOW TAG KEYS` analog: distinct tag keys (optionally for
    * one series) — index-backed when built, scan-backed otherwise. */
  def tagKeys(series: Option[String] = None): Seq[String] =
    distinctSorted(
      series.fold(tagMeta())(s => tagMeta().filter(col("series") === s)),
      "tag_k")

  /** InfluxDB `SHOW TAG VALUES` analog: distinct values of one tag key —
    * the index's `tag_k` partition prunes the lookup when built. */
  def tagValues(k: String): Seq[String] =
    distinctSorted(tagMeta().filter(col("tag_k") === k), "tag_v")

  /** InfluxDB `SHOW FIELD KEYS` analog: per (optional) series, each
    * field name with the value TYPES it has carried — the line protocol
    * admits float / integer / string / boolean per field, and the
    * canonical table stores them in typed columns, so the type set is
    * one aggregation over presence flags (catalog-sized result; the
    * per-series form prunes to that series' partitions statically). */
  def fieldKeys(series: Option[String] = None): Seq[(String, Seq[String])] = {
    if (!exists) return Seq.empty
    val base = series.fold(table())(s => table().filter(col("series") === s))
    base.groupBy(col("name"))
      .agg(
        max(col("value").isNotNull).as("f"),
        max(col("value_long").isNotNull).as("i"),
        max(col("value_str").isNotNull).as("s"),
        max(col("value_bool").isNotNull).as("b"))
      .collect()
      .map { r =>
        val types = Seq("float" -> r.getBoolean(1), "integer" -> r.getBoolean(2),
          "string" -> r.getBoolean(3), "boolean" -> r.getBoolean(4))
          .collect { case (t, true) => t }
        r.getString(0) -> types
      }
      .sortBy(_._1).toSeq
  }

  /** InfluxDB `SHOW ... CARDINALITY` analog, all kinds in one result:
    * series count, distinct field names, and per-tag-key distinct value
    * counts. EXACT where the answer is catalog-sized by construction
    * (series and field names — bounded by schema, not data) and exact
    * per-tag-key counts via the same index/scan `tagMeta` path the
    * SHOW TAG surfaces use: the distinct shuffle carries (tag_k, tag_v)
    * pairs — tag-cardinality-sized, never row-sized. InfluxDB grew
    * these commands precisely because runaway tag cardinality is THE
    * operational failure mode of a TSDB; the counts here are the
    * number an operator alerts on. Catalog-sized result (one row per
    * kind/key). */
  def cardinality(): Seq[(String, String, Long)] = {
    val series = ("series", "", listSeries().length.toLong)
    val fields = ("field_key", "", fieldKeys().length.toLong)
    val tagRows =
      if (!exists) Seq.empty
      else tagMeta().groupBy(col("tag_k"))
        .agg(countDistinct(col("tag_v")).as("n"))
        .collect()
        .map(r => ("tag_values", r.getString(0), r.getLong(1)))
        .sortBy(_._2).toSeq
    (series +: fields +: tagRows).toSeq
  }

  /** Tag-value concentration of one series — the live /skew endpoint's
    * body: per tag key, the exact Gini coefficient of value group
    * sizes plus top-1/top-10 shares, via the SHARED
    * AggQueries.skewReadout (the oracle-certified q_skew_profile
    * formula — the serving path cannot drift from the gated one). This
    * is the hot-tag readout /cardinality's distinct counts cannot see:
    * a million-value tag can still be 99% one value, and THAT is what
    * breaks a shuffle, not the ndv. One scan, statically pruned to the
    * series partition; everything after the per-value count runs on
    * the count-of-counts domain (catalog-sized output, one row per
    * tag key). */
  def tagSkew(series: String): DataFrame =
    graft.queries.AggQueries.skewReadout(
      table().filter(col("series") === series)
        .select(explode(col("tags")).as(Seq("tag_k", "tag_v")))
        .groupBy(col("tag_k").as("col_name"), col("tag_v").as("k"))
        .agg(count(lit(1)).as("c")))

  /** GET /skew's serving cache: the collected per-series readout keyed
    * by the write version at computation START — repeated polling reads
    * the cache instead of re-paying the series-partition scan + shuffle
    * per HTTP request (ADVICE r13; /stats reads a maintained store, this
    * readout is cheap enough that version-keyed memoization suffices).
    * The [[seriesCache]] install discipline: a result whose computation
    * straddled a concurrent write must not be installed as current. */
  private val tagSkewCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Seq[org.apache.spark.sql.Row])]()

  def tagSkewRows(series: String): Seq[org.apache.spark.sql.Row] = {
    val v0 = writeVersion
    val hit = tagSkewCache.get(series)
    if (hit != null && hit._1 == v0) hit._2
    else {
      val rows = tagSkew(series).collect().toSeq
      if (writeVersion == v0) tagSkewCache.put(series, (v0, rows))
      rows
    }
  }

  /** GET /profile's serving cache (round-14 VERDICT #7 — the /skew
    * writeVersion-keyed memoization extended to the other two
    * scan-per-request endpoints): collected profile rows keyed by the
    * write version at computation START, with the [[seriesCache]]
    * install discipline (a result whose computation straddled a
    * concurrent write is served but never installed). Repeated polling
    * reads the cache instead of re-paying the pruned scan + shuffle per
    * HTTP request. */
  private val profileCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Option[String], Option[String]),
      (Long, Seq[org.apache.spark.sql.Row])]()

  def profileRows(series: String, from: Option[String] = None,
      to: Option[String] = None): Seq[org.apache.spark.sql.Row] = {
    val key = (series, from, to)
    val v0 = writeVersion
    val hit = profileCache.get(key)
    if (hit != null && hit._1 == v0) hit._2
    else {
      val rows = profileFields(series, from, to).collect().toSeq
      if (writeVersion == v0) {
        // bound the memoization (keys carry user-supplied day ranges —
        // unbounded growth would leak driver heap under sliding-window
        // polling; clearing loses nothing but warmth)
        if (profileCache.size >= 512) profileCache.clear()
        profileCache.put(key, (v0, rows))
      }
      rows
    }
  }

  /** Per-field column profile of one series (optionally day-bounded):
    * row count, per-type non-null counts, approximate distinct count,
    * numeric min/max over the typed-value union, and the first/last
    * event time — the serving-path sibling of the oracle-gated
    * q_profile_columns (which is EXACT; a live endpoint over an
    * unbounded series takes the approx_count_distinct trade instead of
    * an Expand over every row). One scan, statically pruned by the
    * series partition (and day range when given); map-side partial aggs;
    * catalog-sized output (one row per field). */
  def profileFields(series: String, from: Option[String] = None,
      to: Option[String] = None): DataFrame = {
    val base = table().filter(col("series") === series)
    val ranged = Seq(
      from.map(d => col("day") >= lit(d).cast("date")),
      to.map(d => col("day") <= lit(d).cast("date"))).flatten
      .foldLeft(base)(_ filter _)
    val num = coalesce(col("value"), col("value_long").cast("double"))
    ranged.groupBy(col("name"))
      .agg(
        count(lit(1)).as("n"),
        count(col("value")).as("n_float"),
        count(col("value_long")).as("n_int"),
        count(col("value_str")).as("n_str"),
        count(col("value_bool")).as("n_bool"),
        approx_count_distinct(coalesce(col("value_str"),
          col("value").cast("string"), col("value_long").cast("string"),
          col("value_bool").cast("string"))).as("n_distinct_approx"),
        min(num).as("min_num"), max(num).as("max_num"),
        min(col("time")).as("first_time"), max(col("time")).as("last_time"))
      .orderBy(col("name"))
  }

  /** All rows carrying tag `k=v`. Fast path: scan ONLY the (series, day)
    * partitions the index lists for that tag. The index lookup collects a
    * CATALOG-sized (series, day) list to the driver — same posture as
    * [[listSeries]] — and re-enters the main table as literal IN
    * predicates on the partition columns, so the scan prunes STATICALLY
    * (no job touches non-matching partitions; the exact `tags[k] = v` row
    * filter then runs inside the pruned scan only).
    *
    * Correctness guard (round-5 ADVICE, medium): an ABSENT index, or one
    * whose ledger predates the table's current manifest version
    * ([[storeCurrent]] — written since by this or any other JVM), would
    * silently HIDE matching rows — those cases fall back to the direct
    * full-table scan instead. Keep the index fresh under continuous
    * ingest with `tagIndexEveryBatches` (or call [[buildTagIndex]] after
    * batch ingest) to stay on the pruned path. */
  def queryByTag(k: String, v: String): DataFrame = {
    if (!storeCurrent(tagStore.root))
      return table().filter(col("tags")(k) === v)
    val hits = tagIndex()
      .filter(col("tag_k") === k && col("tag_v") === v)
      .select(col("series"), col("day")).distinct().collect()
    val seriesList = hits.map(_.getString(0)).distinct.toSeq
    val dayList = hits.map(_.getDate(1)).distinct.toSeq
    table()
      .filter(col("series").isin(seriesList: _*) &&
        col("day").isin(dayList: _*) &&
        col("tags")(k) === v)
  }

  /** Compact the table: rewrite each (series, day) partition into a bounded
    * number of files. Streaming micro-batch appends accumulate small files
    * (the classic TSDB-on-object-store failure mode); compaction stages to
    * a sibling dir, then atomically swaps directories.
    *
    * Holds the per-table lock for the whole snapshot→rewrite→swap cycle:
    * without it, a batch written between the staging read and the rename
    * would be silently moved to `.old` and deleted (round-2 ADVICE fix).
    * Writers in THIS JVM therefore block while a compaction runs —
    * acceptable for an out-of-band maintenance op.
    *
    * Compaction doubles as the table's GARBAGE COLLECTOR and its one
    * snapshot-isolation BARRIER: the manifest-driven [[table]] read
    * snapshots only LIVE rows (merge-retired dirs are excluded), the
    * whole-tree swap discards every retired dir, and the fresh tree is
    * published as the next manifest version. Readers pinned to a
    * pre-compact version fail loudly once the old tree is deleted — the
    * Delta/Iceberg VACUUM-vs-time-travel trade, documented at [[table]].
    * Crash safety: a journal (compact tag + the version the publish will
    * commit) lands before the swap; [[recoverMaintenance]] finishes the
    * publish if the swap completed, and the pre-existing `.old`
    * swap-back in [[exists]] restores a mid-swap crash. */
  def compact(): Unit = Engine.maintenanceLock(tablePath).synchronized {
    try Engine.tableLock(tablePath).synchronized { if (exists) {
      acquireWriterLease()
      val staging = tablePath + ".compacting"
      val old = tablePath + ".old"
      // a crash between a previous swap and its cleanup leaves a stale
      // .old (data already live again via exists()-recovery) — clear it
      // or the stage-out rename below fails forever
      deletePath(old)
      val (curVer, _) = ensureManifest()
      val tag = s"compact-${System.currentTimeMillis()}"
      table()
        .withColumn("ingest_batch", lit(tag))
        .repartition(col("series"), col("day"))
        .write.mode("overwrite")
        .partitionBy("ingest_batch", "series", "day")
        .parquet(staging)
      Engine.liveMaintenance.add(tablePath)
      TextFile.commit(hadoopConf, maintJournalPath,
        s"op\tcompact\t$tag\t${curVer + 1}")
      if (!renamePath(tablePath, old))
        throw new java.io.IOException(s"compact: cannot stage out $tablePath")
      if (!renamePath(staging, tablePath)) {
        renamePath(old, tablePath) // roll back
        deletePath(maintJournalPath)
        throw new java.io.IOException(s"compact: cannot swap in $staging")
      }
      // COMMIT: the fresh tree is garbage-free by construction, so a
      // full listing IS the new live leaf set
      publishVersion(curVer + 1, fsLeafDirs(), "compact")
      deletePath(old)
      writeVersion += 1
      seriesCache = null // batch dirs were rewritten
      // every leaf was replaced: a store at the pre-compact version only
      // relabels its ledger, any other catches up by the leaf diff
      catchUpStores()
      deletePath(maintJournalPath)
    }} finally Engine.liveMaintenance.remove(tablePath)
  }

  /** Remove orphaned staging state a crashed maintenance op can leave
    * behind — a `.compacting` directory, stale `.old` copies while the
    * live table exists — and, manifest era, GARBAGE-COLLECT retired leaf
    * directories: partitions a merge replaced (or a crashed recovered
    * mutation orphaned) stay physically in place for snapshot isolation
    * and are reclaimed here, by deleting every on-disk leaf dir the
    * CURRENT committed version does not reference. Running vacuum is the
    * isolation barrier: a reader still pinned to an older version fails
    * loudly afterwards (the Delta/Iceberg VACUUM-vs-time-travel trade).
    * Under the table lock nothing can be mid-publish, so FS-minus-
    * manifest is exactly the garbage set. Returns the number of
    * directories removed.
    *
    * `keepVersions` (round-16, the Delta `VACUUM RETAIN` analog) keeps
    * the leaf dirs of the last N still-listed versions alive so
    * [[tableAt]] time travel keeps working across the retained window:
    * the default 1 reclaims everything but the current snapshot
    * (maximum space, no history — the posture every earlier round
    * certified); `keepVersions >= manifestKeepVersions` reclaims only
    * dirs no listed version references.
    *
    * Vacuum takes the maintenance lock first, so it never sweeps the
    * staging of a background [[maintenanceRound]] or collects the leaves
    * the round pinned. */
  def vacuum(keepVersions: Int = 1): Int = maintaining {
    // a foreign JVM's maintenance must not delete staging another writer
    // is actively producing (review fix: vacuum is a write, lease it)
    var n = 0
    // crashed-journal replay first: rolls back (or forward) BEFORE the
    // generic staging sweep below could mistake its state for garbage
    if (pathExists(maintJournalPath)) { recoverMaintenance(); n += 1 }
    if (mergePending) { recoverMerge(); n += 1 }
    // orphaned swap state: staging always, `.old` only beside a live
    // copy (alone it is the recovery copy a read restores)
    for (base <- tablePath +: sideStores.map(_.root);
         suffix <- Seq(".compacting", ".staging", ".old")
         if pathExists(base + suffix) &&
           (suffix != ".old" || pathExists(base))) {
      deletePath(base + suffix); n += 1
    }
    if (pathExists(tablePath)) currentManifest() match {
      case Some(_) =>
        // live = the union over the last `keepVersions` listed versions
        // (>= 1: the current version is always retained); a version file
        // pruned mid-loop simply contributes nothing
        val retained = listVersionFiles().takeRight(keepVersions.max(1))
        val live = retained.flatMap(v =>
          try readManifestFile(v)
          catch { case _: java.io.FileNotFoundException => Seq.empty }
        ).toSet
        val dead = fsLeafDirs().filterNot(live)
        dead.foreach { l => deletePath(s"$tablePath/$l"); n += 1 }
        if (dead.nonEmpty) pruneEmptyTableParents()
      case None => ()
    }
    n
  }

  /** Number of `ingest_batch=` directories currently in the table — the
    * operational metric behind the compaction invariant: [[listSeries]] is
    * O(batch-dirs × series) FS metadata ops, so uncompacted micro-batches
    * degrade catalog listings long before they hurt scans. Exposed so
    * operators (and [[compactIfNeeded]]) can keep it bounded. */
  def batchDirCount(): Int =
    if (!exists) 0
    else fs(tablePath)
      .listStatus(new org.apache.hadoop.fs.Path(tablePath))
      .count(s => s.isDirectory && s.getPath.getName.startsWith("ingest_batch="))

  /** Compact only when the batch-dir count exceeds `maxBatchDirs` — the
    * bounded-metadata invariant as a one-call maintenance op (hook it after
    * ingest, or let [[ingestStream]]'s compactEvery drive it). Returns
    * whether a compaction ran. */
  def compactIfNeeded(maxBatchDirs: Int = 64): Boolean =
    // the count is a lock-free FS metadata read, so a due slot under the
    // bound never waits for an in-flight maintenance round. Over it, the
    // maintenance lock (NOT the table lock: compact() takes maintenance
    // OUTER / table INNER, and holding the table lock here first would
    // be the classic ABBA against a concurrent merge) keeps two
    // check-then-compact calls from both firing.
    batchDirCount() > maxBatchDirs &&
      Engine.maintenanceLock(tablePath).synchronized {
        batchDirCount() > maxBatchDirs && { compact(); true }
      }

  // ---------------------------------------------------------------- merge

  private def mergeStagingRoot = tablePath + ".merging"

  /** MERGE INTO for the canonical measurements table — the engine-level
    * correction/upsert path the reference's own immutability TODO names
    * (refluxdb src/persistence.rs:39, README.md:55-57: sled keys are
    * insert-only, a re-written point duplicates) and the round-13
    * q_merge_upsert demo turned into an engine capability (the
    * demo → keyed-engine-surface move IncrementalRollup made in r13).
    *
    * `changes` rows: (op, series, name, time, value, value_long,
    * value_str, value_bool, tags) with op ∈ {"U","D"}:
    *  - U matched on (series, name, time)  → UPDATE the typed value
    *    columns + tags (row identity — id, created_at — is kept);
    *  - U unmatched                        → INSERT (fresh id);
    *  - D matched                          → DELETE;
    *  - D unmatched                        → no-op.
    * A feed with duplicate keys is rejected loudly (the Delta/Iceberg
    * multi-match posture); duplicate keys in the BASE are legal (a TSDB
    * can hold two points at one (series, name, time)) and a U updates
    * every matching row.
    *
    * Scale shape — cost tracks TOUCHED PARTITIONS, never the corpus:
    *  1. the feed's distinct (series, day) set is a catalog-sized
    *     driver read (the [[listSeries]] posture);
    *  2. the base scan statically partition-prunes to those literal
    *     (series, day) pairs (a `maxTouched` plan-bloat bound applies —
    *     beyond it, compact first or split the feed, loudly);
    *  3. ONE full-outer equi-join on the logical key merges base and
    *     feed (both sides touched-sized; shuffle on the key, AQE skew);
    *  4. only touched (series, day) directories are rewritten — the
    *     merged survivors consolidate into one new
    *     `ingest_batch=merge-<tag>` dir; untouched files are never
    *     opened, let alone rewritten (EngineSpec pins them
    *     byte-identical).
    * At 100 TB a correction batch touching 50 partitions costs 50
    * partitions, not a table rewrite — the copy-on-write MERGE every
    * lakehouse format implements, expressed over this table's
    * (series, day) block granularity.
    *
    * Crash safety + isolation (round-15 VERDICT #1 — the manifest
    * commit protocol): a journal (tag, planned version) lands first;
    * the merged batch dir renames in (invisible — it joins no
    * committed version); then ONE atomic manifest publish retires
    * the touched partitions' old leaf dirs and admits the merged batch.
    * The retired dirs stay physically in place, so a reader in ANY JVM
    * pinned to the previous version keeps a complete pre-merge snapshot
    * (vacuum/compact collect them later). [[exists]] auto-recovers a
    * crash at any point: manifest reached the journaled version → roll
    * forward (catch the stores up); otherwise → roll back (drop the
    * unpublished batch dir; the table was never touched). Dependent
    * stores stay consistent through one step, [[catchUpStores]]: the
    * merge retired the touched slices' leaves, so every built store
    * drops those slices and refolds their live leaves (the merge batch's
    * and any other), a slice the merge EMPTIED simply has none, and the
    * similarity index rebuilds (its full-rebuild posture).
    *
    * Returns provenance counts: kept / updated / inserted / deleted /
    * touched_partitions.
    *
    * Availability (round-15 VERDICT #2): the table lock is released at
    * the commit point, before the stores catch up, so concurrent appends
    * and reads proceed up to that step (MergeSpec pins a writeBatch
    * completing while it is parked). Merge-vs-merge,
    * merge-vs-drop/retention/compact and every store refresh stay
    * serialized by the per-table maintenance lock, held across the
    * commit and the catch-up. */
  def mergeBatch(changes: DataFrame, maxTouched: Int = 4096)
      : Map[String, Long] = Engine.maintenanceLock(tablePath).synchronized {
    try {
      val counts = mergeCommit(changes, maxTouched)
      // the merge is committed (manifest published); a crash from here
      // on leaves the journal, and recovery catches the stores up
      reconcileHook()
      catchUpStores()
      deletePath(mergeJournalPath)
      counts
    } finally Engine.liveMaintenance.remove(tablePath)
  }

  /** Test-only interception points: [[mergeSwapHook]] fires after the
    * merged batch dir is physically in place but BEFORE the manifest
    * publish (the old "gap" window — specs assert a lock-free reader
    * still sees exactly pre-merge state here); [[reconcileHook]] fires
    * after the commit, before the stores catch up, outside the table
    * lock (specs assert concurrent writes proceed). No-ops in
    * production. */
  private[graft] var mergeSwapHook: () => Unit = () => ()
  private[graft] var reconcileHook: () => Unit = () => ()

  /** The under-table-lock half of [[mergeBatch]]: validate, join, stage,
    * journal, swap in, PUBLISH (the commit point). Returns the provenance
    * counts. */
  private def mergeCommit(changes: DataFrame, maxTouched: Int)
      : Map[String, Long] = writing {
    require(exists, "mergeBatch: no measurements table to merge into")
    val mergeTag = s"merge-${java.util.UUID.randomUUID().toString.take(8)}"
    val feed = changes.select(col("op"), col("series"), col("name"),
        col("time").cast("timestamp").as("time"),
        col("value").cast("double").as("value"),
        col("value_long").cast("long").as("value_long"),
        col("value_str").cast("string").as("value_str"),
        col("value_bool").cast("boolean").as("value_bool"),
        col("tags").cast("map<string,string>").as("tags"))
      .withColumn("day", col("time").cast("date"))
      .localCheckpoint(true) // feed-sized; read 4× below (validate ×2,
                             // touched set, join) — never recomputed
    val badOps = feed.filter(!col("op").isin("U", "D")).count()
    require(badOps == 0L,
      s"mergeBatch: $badOps change rows carry an op outside {U, D}")
    val dupKeys = feed.groupBy(col("series"), col("name"), col("time"))
      .count().filter(col("count") > 1L).count()
    require(dupKeys == 0L,
      s"mergeBatch: $dupKeys duplicate (series, name, time) keys in the " +
        "feed — MERGE with a multi-match source is ambiguous (Delta parity)")
    val nullKeys = feed.filter(col("series").isNull ||
      col("name").isNull || col("time").isNull).count()
    require(nullKeys == 0L,
      s"mergeBatch: $nullKeys change rows carry a null series/name/time — " +
        "an incomplete merge key would route rows into the default " +
        "partition instead of matching anything")
    // 1. touched partitions — catalog-sized driver read
    val touched = feed.select(col("series"), col("day")).distinct()
      .collect().map(r => (r.getString(0), r.getDate(1)))
    require(touched.nonEmpty, "mergeBatch: empty change feed")
    require(touched.length <= maxTouched,
      s"mergeBatch: feed touches ${touched.length} (series, day) " +
        s"partitions > maxTouched=$maxTouched — the per-slice predicate " +
        "would bloat the plan; compact first or split the feed")
    // 2. base rows from touched partitions only (static pruning on the
    // partition columns)
    val basePruned = table().filter(touched.map { case (s, d) =>
      col("series") === s && col("day") === lit(d)
    }.reduce(_ || _))
    // 3. ONE full-outer merge join on the logical key
    val joined = basePruned.as("b").join(feed.as("c"),
      col("b.series") === col("c.series") &&
        col("b.name") === col("c.name") && col("b.time") === col("c.time"),
      "full_outer")
    val matched = col("b.id").isNotNull && col("c.op").isNotNull
    val classified = joined.select(
        when(matched && col("c.op") === "D", "deleted")
          .when(matched, "updated")
          .when(col("b.id").isNotNull, "kept")
          .when(col("c.op") === "U", "inserted")
          .otherwise("noop").as("prov"),
        coalesce(col("b.series"), col("c.series")).as("series"),
        coalesce(col("b.id"), expr("uuid()")).as("id"),
        coalesce(col("b.time"), col("c.time")).as("time"),
        coalesce(col("b.created_at"), current_timestamp()).as("created_at"),
        coalesce(col("b.name"), col("c.name")).as("name"),
        when(col("c.op").isNotNull, col("c.value"))
          .otherwise(col("b.value")).as("value"),
        when(col("c.op").isNotNull, col("c.value_long"))
          .otherwise(col("b.value_long")).as("value_long"),
        when(col("c.op").isNotNull, col("c.value_str"))
          .otherwise(col("b.value_str")).as("value_str"),
        when(col("c.op").isNotNull, col("c.value_bool"))
          .otherwise(col("b.value_bool")).as("value_bool"),
        when(col("c.op").isNotNull, col("c.tags"))
          .otherwise(col("b.tags")).as("tags"),
        coalesce(col("b.day"), col("c.day")).as("day"))
      .localCheckpoint(true) // touched-sized, NOT corpus-sized: computed
                             // once, read twice (counts + write)
    val counts = classified.groupBy(col("prov")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 4. stage the merged batch, then commit by PUBLISHING LAST
    deletePath(mergeStagingRoot)
    classified.filter(col("prov") =!= "deleted" && col("prov") =!= "noop")
      .drop("prov")
      .repartition(col("series"), col("day"))
      .write.mode("overwrite").partitionBy("series", "day")
      .parquet(s"$mergeStagingRoot/ingest_batch=$mergeTag")
    // the touched partitions' LIVE leaf dirs are RETIRED, not moved:
    // they stay physically in place so a reader pinned to the previous
    // manifest version keeps a complete pre-merge snapshot (round-15
    // VERDICT #1 — cross-JVM isolation); they become garbage the next
    // vacuum()/compact() collects. Matching is on the UNESCAPED
    // partition names (the deleteSlices posture).
    val touchedSet = touched.map { case (s, d) => (s, d.toString) }.toSet
    val (curVer, curLeaves) = ensureManifest()
    val retired = curLeaves.filter(l => touchedSet(sliceOf(l))).toSet
    val plannedVersion = curVer + 1
    // journal FIRST (atomic tmp+rename): merge tag and the version the
    // publish below will commit — enough for [[recoverMerge]] to decide
    // committed-or-not (manifest reached the journaled version ⟺
    // committed; robust even when the merge batch is EMPTY because every
    // touched row was deleted).
    Engine.liveMaintenance.add(tablePath)
    TextFile.commit(hadoopConf, mergeJournalPath,
      s"tag\t$mergeTag\nversion\t$plannedVersion")
    if (!renamePath(s"$mergeStagingRoot/ingest_batch=$mergeTag",
        s"$tablePath/ingest_batch=$mergeTag"))
      throw new java.io.IOException(
        s"mergeBatch: cannot swap in $mergeTag (recovery will roll back)")
    deletePath(mergeStagingRoot)
    mergeSwapHook()
    // COMMIT: one atomic publish — readers switch from the full
    // pre-merge leaf set to (survivors + merged batch) in one step
    publishVersion(plannedVersion,
      (curLeaves.filterNot(retired) ++ leavesOfBatch(mergeTag)), "merge")
    writeVersion += 1
    seriesCache = null
    counts - "noop" + ("touched_partitions" -> touched.length.toLong)
  }

  /** Drop `series=`/`ingest_batch=` parent dirs a partition delete
    * emptied, so catalog listings shrink with the data. Idempotent. */
  private def pruneEmptyTableParents(): Unit = {
    val fsys = fs(tablePath)
    for (b <- fsys.listStatus(new org.apache.hadoop.fs.Path(tablePath))
           if b.isDirectory && b.getPath.getName.startsWith("ingest_batch=")) {
      for (s <- fsys.listStatus(b.getPath)
             if s.isDirectory && s.getPath.getName.startsWith("series=")
             if fsys.listStatus(s.getPath).isEmpty)
        fsys.delete(s.getPath, true)
      if (fsys.listStatus(b.getPath).isEmpty) fsys.delete(b.getPath, true)
    }
  }

  /** MERGE over the wire — the [[mergeBatch]] feed expressed in the
    * reference's own line-protocol dialect so corrections ride the same
    * format as writes (POST /merge): each line is `U <line>` (upsert
    * every field the line carries at its timestamp) or `D <line>` (the
    * parsed field NAMES + timestamp identify the rows to delete; field
    * values are ignored). Lines parse on the DRIVER (a correction batch
    * is request-bounded, never corpus-sized — the model-sized-collect
    * posture in reverse), and the batch is TRANSACTIONAL: any
    * unparseable line, missing timestamp, or bad prefix rejects the
    * whole batch before anything touches disk — a correction batch
    * must apply fully or not at all (unlike /write, whose quarantine
    * posture keeps good lines and audits bad ones). Timestamps are
    * REQUIRED: the merge key is (series, name, time), and an
    * arrival-time fallback would make the key non-deterministic. */
  def mergeLines(lines: Seq[String]): Map[String, Long] = {
    import graft.protocol.{FieldValue, LineProtocol}
    val feedRows = lines.flatMap { raw =>
      val opc = raw.take(2) match {
        case "U " => "U"
        case "D " => "D"
        case _ => throw new IllegalArgumentException(
          s"merge line must start with 'U ' or 'D ': $raw")
      }
      LineProtocol.parse(raw.drop(2)) match {
        case Left(err) => throw new IllegalArgumentException(
          s"merge: unparseable line ($err): $raw")
        case Right(r) =>
          val tns = r.timestamp.getOrElse(throw new IllegalArgumentException(
            s"merge: line needs an explicit timestamp: $raw"))
          // µs truncation — identical to the ingest path's
          // timestamp_micros(time_ns div 1000)
          val t = java.sql.Timestamp.from(
            java.time.Instant.EPOCH.plus(tns / 1000L,
              java.time.temporal.ChronoUnit.MICROS))
          r.fields.map { case (k, v) =>
            val (d, l, s2, b) = v match {
              case FieldValue.FloatV(x)  => (Some(x), None, None, None)
              case FieldValue.IntV(x)    => (None, Some(x), None, None)
              case FieldValue.StringV(x) => (None, None, Some(x), None)
              case FieldValue.BoolV(x)   => (None, None, None, Some(x))
            }
            (opc, r.measurement, k, t, d, l, s2, b, r.tags.toMap)
          }
      }
    }
    val sp = spark
    import sp.implicits._
    mergeBatch(feedRows.toDF("op", "series", "name", "time", "value",
      "value_long", "value_str", "value_bool", "tags"))
  }

  /** CONTINUOUS CDC apply — the streaming twin of [[mergeLines]]
    * (Debezium-style change feeds: upstream corrections arrive on a
    * stream and fold into the canonical table as they land): each
    * micro-batch's `U `/`D ` prefixed line-protocol rows collect to the
    * driver (a correction batch is request-bounded by nature — the
    * mergeLines posture) and apply through ONE [[mergeBatch]] call, so
    * every batch gets the full touched-partition copy-on-write
    * discipline, crash recovery included. A bad line fails its batch
    * loudly (retried by the stream), never half-applies — exactly-once
    * per micro-batch comes from mergeBatch's transactional swap plus
    * Structured Streaming's batch-id replay (a replayed batch re-merges
    * idempotently: U re-applies the same values, D finds nothing).
    * `lines` must have a string column `value`.
    *
    * `maxLinesPerBatch` bounds the driver collect (round-14 ADVICE: the
    * request-bounded assumption must be ENFORCED, not assumed — one
    * runaway CDC micro-batch would otherwise OOM the driver). The count
    * runs DISTRIBUTED before anything is collected; an oversized batch
    * fails loudly. Poison-pill behavior, documented: a batch that fails
    * (oversized or carrying a bad line) is retried by the stream
    * forever — that is Structured Streaming's at-least-once contract
    * for a deterministic failure; the operator fixes the upstream feed
    * (or raises the cap) and restarts, exactly the Kafka-connect
    * dead-letter posture without a silent drop. */
  def mergeStream(lines: DataFrame, checkpoint: String,
      maxLinesPerBatch: Long = 100000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persist: the cap check and the collect must not evaluate the
        // micro-batch source twice (double-read on the hot CDC path)
        val rows = batch.select(col("value")).persist()
        try {
          val n = rows.count()
          require(n <= maxLinesPerBatch,
            s"mergeStream: micro-batch carries $n lines > " +
              s"maxLinesPerBatch=$maxLinesPerBatch — a correction feed " +
              "must stay request-bounded (the batch will retry until " +
              "the upstream is fixed or the cap raised)")
          val ls = rows.collect()
            .map(_.getString(0)).toSeq.filter(_.trim.nonEmpty)
          if (ls.nonEmpty) { mergeLines(ls); () }
        } finally { rows.unpersist(); () }
      }
      .start()

  /** Roll a crashed [[mergeBatch]] back (or forward) from its journal.
    * Committed ⟺ the manifest reached the journaled version (the
    * publish IS the commit; the merged batch dir alone proves nothing —
    * it lands before the publish and an all-deleted merge writes an
    * empty one). Roll-forward deletes nothing (the retired originals
    * stay in place by design, garbage for vacuum) and catches every
    * built store up (round-14 ADVICE, medium — a catch-up is a refresh,
    * so a crash DURING it just runs it again). A journal written with
    * `touched` lines still parses; they are ignored. Roll-back deletes
    * the never-published merge batch dir and
    * staging; the table and every committed reader are untouched.
    * Wired into [[exists]] and run by [[vacuum]], in the [[recovering]]
    * frame. */
  private def recoverMerge(): Unit =
    recovering(s"crashed merge journal at $mergeJournalPath", mergePending) {
      if (pathExists(mergeJournalPath)) {
        val fields = TextFile.lines(hadoopConf, mergeJournalPath)
          .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap
        val tag = fields.getOrElse("tag", "")
        val planned = fields.get("version").flatMap(_.toLongOption)
          .getOrElse(Long.MaxValue)
        if (manifestVersion().exists(_ >= planned)) {
          // committed: the publish landed — catch the stores up
          deletePath(mergeStagingRoot)
          writeVersion += 1
          seriesCache = null
          catchUpStores()
          logWarning(s"recovered crashed merge $tag: roll-forward " +
            "(publish had landed; caught the built stores up)")
        } else {
          // uncommitted: the merged batch (if it landed) joined no
          // version — it is invisible garbage; the table is untouched
          if (tag.nonEmpty) deletePath(s"$tablePath/ingest_batch=$tag")
          deletePath(mergeStagingRoot)
          logWarning(s"recovered crashed merge $tag: rolled back " +
            "(publish never landed; dropped the unpublished merge batch)")
        }
        deletePath(mergeJournalPath)
      } else if (pathExists(mergeStagingRoot)) {
        // staging with no journal ⇒ the merge died mid-stage — garbage
        deletePath(mergeStagingRoot)
      }
      deletePath(mergeJournalPath + ".tmp")
    }

  /** Retention policy: drop every (batch, series, day) partition whose
    * `day` is lexicographically before `beforeDay` (ISO yyyy-MM-dd, so
    * string order IS date order). Pure FS-metadata operation — whole
    * `day=` directories are deleted, no data is scanned or rewritten.
    * That shape is the only one that survives 100 TB: a predicate DELETE
    * through a rewrite costs a full table pass, while dropping partition
    * directories is O(dirs) driver metadata ops regardless of data volume
    * (the same reason every TSDB shards by time). InfluxDB-family parity:
    * the reference has no delete path at all (its sled keyspace only
    * grows, reference src/persistence.rs:45); retention is the superset
    * feature every production deployment turns on first.
    *
    * One of the two callers of the journaled slice delete
    * ([[deleteSlices]]). Returns the number of day-partition directories
    * removed; emptied series/batch parents are pruned so catalog
    * listings shrink with the data. */
  def applyRetention(beforeDay: String): Long = {
    require(beforeDay.matches("""\d{4}-\d{2}-\d{2}"""),
      s"beforeDay must be yyyy-MM-dd, got '$beforeDay'")
    deleteSlices(Deletion.before(beforeDay)).getOrElse(0L)
  }

  /** Drop one series entirely (InfluxDB `DROP SERIES` analog): the
    * journaled slice delete ([[deleteSlices]]) with the series as its
    * predicate, then the series' owned temp view. Matching is done on the
    * UNESCAPED directory name, so series whose names contain structural
    * characters (escaped as %XX by Spark's partition writer) drop
    * correctly. Returns true iff some live leaf dir held the series. */
  def dropSeries(series: String): Boolean = {
    val dropped = deleteSlices(Deletion.drop(series)).isDefined
    // the owned temp view is dropped OUTSIDE the table lock: query()
    // holds viewLock while its side-table recovery may take tableLock,
    // so taking viewLock while holding tableLock here would be the
    // classic ABBA deadlock (round-7 review fix). Lock order is
    // therefore viewLock-never-inside-tableLock, engine-wide. The
    // between-locks window (data gone, view momentarily alive) only
    // turns into the same missing-files execution error a concurrent
    // reader could already get mid-drop.
    if (dropped) Engine.viewLock(spark).synchronized {
      if (Engine.ownsView(spark, series)) {
        spark.catalog.dropTempView(series)
        Engine.releaseView(spark, series)
      }
    }
    dropped
  }

  /** The one table delete: under the maintenance lock, then the table
    * lock and lease, and only if some live leaf dir is dead under `d`,
    * journal the intent (round-15 ADVICE: a crash between the data
    * delete and the store prunes left expired docs answering /search
    * forever), run [[deleteSlicesBody]] and clear the journal. None when
    * nothing live was dead. */
  private def deleteSlices(d: Deletion): Option[Long] =
    Engine.maintenanceLock(tablePath).synchronized {
      try writing {
        if (!exists || !ensureManifest()._2.exists(isDead(d))) None
        else {
          Engine.liveMaintenance.add(tablePath)
          TextFile.commit(hadoopConf, maintJournalPath, d.journal)
          val deleted = deleteSlicesBody(d)
          deletePath(maintJournalPath)
          Some(deleted)
        }
      } finally Engine.liveMaintenance.remove(tablePath)
    }

  private def isDead(d: Deletion)(leaf: String): Boolean =
    d.dead.tupled(sliceOf(leaf))


  /** Idempotent tail of [[deleteSlices]] — also the crash-REPLAY body
    * run by [[recoverMaintenance]]: manifest flip (the commit point for
    * readers; skipped when already published), physical deletes of every
    * dead leaf dir on disk (immediate — a delete is a destructive admin
    * op by contract; the walk also reclaims dead retired garbage), then
    * the store catch-up UNCONDITIONALLY (a replay that finds the dirs
    * already gone must still catch the stores up — exactly the crash the
    * journal exists for). Returns the number of leaf dirs deleted. */
  private def deleteSlicesBody(d: Deletion): Long = {
    currentManifest().foreach { case (_, leaves) =>
      val kept = leaves.filterNot(isDead(d))
      if (kept.size != leaves.size) publishLeaves(kept, d.op)
    }
    val dead = fsLeafDirs().filter(isDead(d))
    dead.foreach(l => deletePath(s"$tablePath/$l"))
    pruneEmptyTableParents()
    writeVersion += 1
    seriesCache = null
    catchUpStores()
    dead.size.toLong
  }

  /** Replay a crashed [[deleteSlices]] / [[compact]] tail from the
    * maintenance journal, in the [[recovering]] frame. A delete replays
    * its whole idempotent body; a compact whose swap completed but whose
    * publish did not gets its publish FINISHED (the fresh tree is
    * garbage-free, so a full listing is the live set), and either way
    * the stores catch up. */
  private def recoverMaintenance(): Unit =
    recovering(s"crashed maintenance journal at $maintJournalPath",
        pathExists(maintJournalPath)) {
      val line =
        TextFile.lines(hadoopConf, maintJournalPath).headOption.getOrElse("")
      line.split("\t").toList match {
        case "op" :: "compact" :: tag :: plannedStr :: _ =>
          val planned = Try(plannedStr.toLong).getOrElse(Long.MaxValue)
          if (manifestVersion().exists(_ >= planned)) {
            // committed — only post-publish cleanup can be outstanding
            deletePath(tablePath + ".old")
          } else if (pathExists(s"$tablePath/ingest_batch=$tag")) {
            // swap-in completed, publish did not — finish the commit
            logWarning(s"finishing crashed compact $tag: publishing the " +
              "swapped-in tree as the next manifest version")
            publishVersion(planned, fsLeafDirs(), "compact")
            deletePath(tablePath + ".old")
          } // else: the swap never happened (or the .old swap-back already
            // restored the previous tree) — the journal is moot
          deletePath(tablePath + ".compacting")
          writeVersion += 1
          seriesCache = null
          catchUpStores()
        case _ => Deletion.journaled(line).foreach { d =>
          logWarning(s"replaying crashed delete ${d.op} — manifest flip, " +
            "dir deletes and the store catch-up re-run")
          deleteSlicesBody(d)
        }
      }
      deletePath(maintJournalPath)
      deletePath(maintJournalPath + ".tmp")
    }

  /** Rewrite the canonical table as a BUCKETED catalog table: rows are
    * pre-shuffled into `buckets` files by `key` at write time, so every
    * subsequent join/aggregation keyed on `key` (fact-fact self-joins,
    * as-of joins per series, per-series rollups) plans with NO exchange —
    * the shuffle is paid once here instead of per query. This is the
    * repeated-join lever at 100 TB (BucketingSpec proves the plan shape).
    *
    * Bucket metadata lives in the session catalog (`saveAsTable`), data
    * under `warehouse/bucketed_<name>`. Same table lock as writeBatch /
    * compact: the snapshot must not race an append. */
  def compactBucketed(tableName: String, key: String = "series",
      buckets: Int = 32,
      statsColumns: Seq[String] = Seq("series", "name", "day", "value"))
      : Unit =
    writing {
      table()
        .write.bucketBy(buckets, key).sortBy(key)
        .option("path", s"$warehouse/bucketed_$tableName")
        .mode("overwrite")
        .saveAsTable(tableName)
      // CBO statistics ride the same maintenance slot (round-6 VERDICT
      // #6). Table-level stats pin rowCount (the file listing already
      // yields sizeInBytes for this unpartitioned layout); the COLUMN
      // stats are what change plans: ndv/min-max on the predicate
      // columns lets `spark.sql.cbo.enabled` price a selective filter at
      // rows/ndv instead of "same size as the table", which is the
      // difference between shuffling a fact-sized side and broadcasting
      // the handful of surviving rows (EngineSpec asserts exactly that
      // flip). One metadata + one column-agg pass over files just
      // rewritten anyway — the cheapest moment to pay it.
      //
      // Round-14 (VERDICT #5): the ANALYZE also persists EQUI-HEIGHT
      // HISTOGRAMS (Piatetsky-Shapiro & Connell 1984 — exactly the
      // artifact the oracle-gated q_histogram_equidepth computes and
      // explains) into the catalog, where Spark's CBO reads them to
      // price RANGE predicates off real bucket bounds instead of the
      // min/max-uniform assumption — on a skewed value column that is
      // the difference between "value > X keeps half the table" and the
      // truth (EngineSpec pins the estimate inside the bucket bound and
      // the uniform control wildly over). `value` joins the default
      // stats columns for that reason. Histogram collection adds one
      // percentile pass per numeric column on data just rewritten —
      // still the cheapest moment. Drop/retention symmetry: the stats
      // live IN the catalog entry of the bucketed snapshot; dropping
      // the table drops them, and the next compactBucketed rebuilds
      // both from the then-current table.
      val histKey = "spark.sql.statistics.histogram.enabled"
      val prevHist = spark.conf.getOption(histKey)
      spark.conf.set(histKey, "true")
      try {
        spark.sql(s"ANALYZE TABLE `$tableName` COMPUTE STATISTICS")
        val cols = (statsColumns :+ key).distinct.map(c => s"`$c`")
        spark.sql(s"ANALYZE TABLE `$tableName` COMPUTE STATISTICS " +
          s"FOR COLUMNS ${cols.mkString(", ")}")
      } finally prevHist match {
        case Some(v) => spark.conf.set(histKey, v)
        case None => spark.conf.unset(histKey)
      }
    }

  // --------------------------------------------------------------- catalog

  /** All measurements (empty frame with canonical schema if none yet).
    *
    * The read uses the EXPLICIT canonical schema, never footer inference:
    * a warehouse with batch directories written before a schema extension
    * (value_str/value_bool arrived in round 2) would otherwise infer a
    * schema that depends on which footer Spark samples — with the fixed
    * schema, old files surface the newer columns as nulls deterministically
    * (round-2 ADVICE fix). Partition columns (ingest_batch/series/day) are
    * matched by name against the directory structure.
    *
    * SNAPSHOT READ, MANIFEST-VERSIONED (round-15 VERDICT #1, upgrading
    * the round-14/15 listing-under-lock posture): the read resolves the
    * current committed manifest version and scans exactly its leaf
    * directories. Mutations publish a new version atomically LAST and
    * leave replaced directories in place until [[vacuum]]/[[compact]]
    * GC, so a reader in this OR ANY OTHER JVM pins a complete pre- or
    * post-mutation snapshot — never a half-swapped tree — without
    * taking the table lock (reads no longer block on maintenance).
    * Remaining windows, stated: a snapshot EXECUTED after a later
    * vacuum/compact collected its directories fails loudly
    * (FileNotFoundException, ignoreMissingFiles stays false) — the
    * Delta/Iceberg VACUUM-vs-time-travel trade; and an explicit
    * dropSeries/applyRetention deletes its directories immediately
    * (destructive admin ops by contract), with the same loud-failure
    * behavior for a straddling reader. The version file is immutable and
    * its leaf dirs outlive it until vacuum/compact GC, so the read takes
    * no lock and never blocks on a concurrent maintenance write. */
  def table(): DataFrame =
    // `exists` runs any pending crash recovery first; a legacy
    // pre-manifest warehouse reads its on-disk leaves ([[liveLeaves]])
    // until the first mutation bootstraps a manifest
    readLeaves(if (exists) liveLeaves() else Nil).drop("ingest_batch")

  /** DESCRIBE HISTORY analog (round-16): the committed (version, op)
    * pairs still inside the manifest keep window, ascending. Ops carry
    * their argument where one exists (`write:<batchTag>`,
    * `drop:<series>`, `retention:<beforeDay>`; `merge`/`compact`/
    * `repair`/`bootstrap` bare). Bounded to `manifestKeepVersions`
    * entries by construction — the history a version file prune retires
    * is gone (commit-log compaction, the same trade every table format
    * with a bounded log makes). */
  def history(): Seq[(Long, String)] = {
    exists // surface any pending crash recovery first
    listVersionFiles().flatMap { v =>
      // a version pruned between the listing and the read just drops out
      try Some((v, readManifestOp(v)))
      catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** TIME TRAVEL (round-16): the table AS OF committed version `v` —
    * the manifest read path's natural dividend. The version file is
    * immutable and merge-retired leaf dirs stay physically in place
    * until [[vacuum]]/[[compact]] collect them, so any version whose
    * file is still listed AND whose leaves survive is exactly
    * reconstructable, lock-free, from any JVM. Fails LOUDLY (never a
    * partial snapshot) when
    *  - the version file was pruned past `manifestKeepVersions`
    *    publishes (IllegalArgumentException naming the readable window),
    *  - a leaf it references was garbage-collected — [[vacuum]] with
    *    `keepVersions` smaller than the distance, a [[compact]] (full
    *    rewrite), or a destructive [[dropSeries]]/[[applyRetention]]
    *    (IllegalStateException naming the first missing leaf).
    * The existence pre-check is O(leaf dirs) driver FS metadata — the
    * same cost class as the partition listing any snapshot read pays. */
  def tableAt(version: Long): DataFrame = {
    exists // run pending crash recovery before trusting the manifest
    val listed = listVersionFiles()
    if (!listed.contains(version))
      throw new IllegalArgumentException(
        s"version $version of $tablePath is not readable: retained " +
          s"versions are [${listed.headOption.getOrElse(-1L)}" +
          s"..${listed.lastOption.getOrElse(-1L)}] (version files prune " +
          s"past $manifestKeepVersions publishes)")
    val leaves =
      try readManifestFile(version)
      catch {
        // listed, then pruned by a concurrent publish before the read —
        // same outcome as not-listed, reported the same loud way
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"version $version of $tablePath was pruned by a concurrent " +
              s"publish (version files prune past $manifestKeepVersions " +
              "publishes)")
      }
    val f = fs(tablePath)
    leaves.find(l =>
        !f.exists(new org.apache.hadoop.fs.Path(s"$tablePath/$l")))
      .foreach(gone => throw new IllegalStateException(
        s"version $version of $tablePath references $gone, which was " +
          "garbage-collected (vacuum/compact/drop/retention ran since) " +
          "— snapshot no longer reconstructable"))
    readLeaves(leaves).drop("ingest_batch")
  }

  private def exists: Boolean = {
    // Fast path (no recovery markers): lock-free pure existence check.
    // When a marker IS present, recovery runs under the table lock in the
    // [[recovering]] frame — an UNGUARDED recovery here was the round-14
    // ADVICE (high). Journals whose writer is ALIVE in this JVM (a live
    // merge between its commit and its store catch-up in particular) are
    // skipped without
    // even taking the lock, so readers never block on a live maintenance
    // op.
    if (swapPending || ((mergePending || pathExists(maintJournalPath)) &&
        !Engine.liveMaintenance.contains(tablePath)))
      Engine.tableLock(tablePath).synchronized {
        // a compact() interrupted between its two renames: the data is
        // intact in .old — swap it back in rather than read an empty table
        recovering(s"$tablePath is missing with a recovery copy at " +
          s"$tablePath.old", swapPending) {
          renamePath(tablePath + ".old", tablePath)
        }
        // replay a crashed delete/compact tail, then roll a crashed merge
        // back or forward (at most one journal can exist — the
        // maintenance lock serializes their writers)
        recoverMaintenance()
        recoverMerge()
      }
    pathExists(tablePath)
  }

  private def swapPending =
    !pathExists(tablePath) && pathExists(tablePath + ".old")

  private def mergePending =
    pathExists(mergeJournalPath) || pathExists(mergeStagingRoot)

  /** The one crash-recovery frame, shared by the `.old` swap-back in
    * [[exists]], [[recoverMaintenance]] and [[recoverMerge]]: under the
    * table lock, nothing happens while the op is live in this JVM
    * ([[Engine.liveMaintenance]] — in particular between a merge's
    * commit and its store catch-up) or once `pending` is false. Recovery is
    * a WRITE (round-14 ADVICE, high): under a FOREIGN lease it is skipped
    * with a loud warning — the state may be another JVM's live op
    * (recovering would abort it) or a crashed foreign writer (the
    * operator protocol is breakWriterLease(), after which recovery
    * proceeds). Otherwise the lease is taken for the recovery and, if it
    * was free, released after — a reader that self-heals must not stay a
    * writer. The recovery marks itself live, so a body that reads the
    * table (a replayed store refresh) does not re-enter it. */
  private def recovering(what: => String, pending: => Boolean)
      (body: => Unit): Unit = Engine.tableLock(tablePath).synchronized {
    if (!Engine.liveMaintenance.contains(tablePath) && pending)
      leaseHolder() match {
        case Some(id) if id != Engine.writerId =>
          logWarning(s"$what, but the warehouse writer lease belongs to " +
            s"JVM $id — skipping recovery (live op or crashed writer; run " +
            "breakWriterLease() if it crashed).")
        case held =>
          Engine.liveMaintenance.add(tablePath)
          try {
            acquireWriterLease()
            try body
            finally if (held.isEmpty) releaseWriterLease()
          } finally Engine.liveMaintenance.remove(tablePath)
      }
  }

  /** Cached [[listSeries]] result; invalidated by every write through THIS
    * engine (writeBatch/compact). Engines in other JVMs writing the same
    * warehouse are outside the documented single-writer posture. */
  @volatile private var seriesCache: Seq[String] = null

  /** Monotonic write counter: a listing that STARTED before a concurrent
    * write must not be installed into [[seriesCache]] after that write
    * invalidated it (round-2 ADVICE fix — @volatile alone cannot protect
    * the check-then-act without serializing reads behind the write lock). */
  @volatile private var writeVersion = 0L

  /** R9: series catalog — a TRUE partition-directory listing (pure FS
    * metadata: `ingest_batch=* / series=*`), not a distinct data scan, and
    * cached until the next write. At 100k series this is O(dirs) driver
    * metadata ops once per ingest, instead of a cluster scan per query. */
  def listSeries(): Seq[String] =
    if (!exists) Seq.empty
    else {
      val cached = seriesCache
      if (cached != null) cached
      else {
        val v0 = writeVersion
        // the catalog is the LIVE leaf set: a series whose every leaf was
        // merged away or dropped must vanish even while its garbage dirs
        // await vacuum
        val series = liveLeaves().map(leafParts(_)._2).distinct.sorted
        // install only if no write landed while we were listing — a stale
        // install would hide new series until the write after next
        if (writeVersion == v0) seriesCache = series
        series
      }
    }

  /** Inverse of Spark's partition-path escaping (%XX for structural chars);
    * '+' is NOT a space in partition dirs, so URLDecoder would corrupt it. */
  private def unescapePathName(p: String): String = {
    val sb = new StringBuilder(p.length)
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '%' && i + 2 < p.length) {
        val hex = Try(Integer.parseInt(p.substring(i + 1, i + 3), 16)).toOption
        hex match {
          case Some(code) => sb.append(code.toChar); i += 3
          case None => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Catalog statistics per series (count, time bounds, field names) —
    * the "pre-calculated stats" listing a TSDB UI needs (README.md:58
    * intent), one aggregation over the pruned scan. */
  def seriesStats(): DataFrame =
    table().groupBy(col("series"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("time")).as("min_time"),
        max(col("time")).as("max_time"),
        sort_array(collect_set(col("name"))).as("fields"))
      .orderBy(col("series"))

  /** R10: series-exists probe — a lookup in the cached partition listing,
    * not a data scan (round-2 fix: the old `filter(...).isEmpty` read
    * files to answer a catalog question). */
  def seriesExists(series: String): Boolean =
    listSeries().contains(series)

  // ----------------------------------------------------------------- range

  /** R11 intent (D2): inclusive [start, end] slice of one series; RFC3339
    * inputs like the reference (src/handlers.rs:36-42), clean error instead
    * of panic on bad input; empty slice = empty frame (D4). Partition
    * pruning on `series` and `day` bounds the scan before `time` filters. */
  def range(series: String, startRfc3339: String, endRfc3339: String)
      : Either[String, DataFrame] = {
    def parseTs(s: String): Either[String, Instant] =
      Try(OffsetDateTime.parse(s).toInstant)
        .toEither.left.map(e => s"invalid datetime '$s': ${e.getMessage}")
    for {
      start <- parseTs(startRfc3339)
      end <- parseTs(endRfc3339)
    } yield {
      val s0 = Timestamp.from(start)
      val e0 = Timestamp.from(end)
      table()
        .filter(col("series") === series &&
          // day-partition pruning bounds, then exact time bounds
          col("day") >= date_format(lit(s0), "yyyy-MM-dd") &&
          col("day") <= date_format(lit(e0), "yyyy-MM-dd") &&
          col("time").between(lit(s0), lit(e0)))
        .drop("day")
    }
  }

  // ----------------------------------------------------- continuous queries
  // The reference's "pre-calculated stats" TODO (refluxdb README.md:58)
  // as InfluxDB-style CONTINUOUS QUERIES, maintained INCREMENTALLY:
  // each registered CQ materializes per-(series, name, time-bucket)
  // count/sum/min/max into its own partitioned side table, and a
  // catch-up ([[catchUpLedger]]) recomputes ONLY the (series, day)
  // slices the leaf diff touches, each from that slice's live leaves.
  // Late-arriving data needs no lag window at all: whenever a late row
  // lands (in a new leaf), its slice is recomputed — eventual exactness
  // by construction. At 100 TB the refresh cost is O(touched slices),
  // never O(table): the dirty slices come from leaf paths on the driver,
  // the recompute reads only their leaves, and the write is a dynamic
  // partition overwrite of exactly those slices; a slice left with no
  // live leaf (a drop, retention, a merge that deleted every row) has
  // its target dir deleted. Progress state is the CQ's [[Ledger]],
  // `cq/<name>/REGISTRY`, written after the data: a crash between the
  // two redoes the slices on the next refresh, never skips them, and a
  // CQ with no ledger rebuilds its target.

  private def cqRoot = s"$warehouse/cq"
  private def cqTargetPath(name: String) = s"$cqRoot/$name/target"

  /** The CQ family as one store: its staged-swap root is the catalog,
    * its SQL tables are the registered targets, and its catch-up is
    * every registered CQ's ([[refreshCqAt]]). */
  private object cqStore extends ParquetStore("cq",
      "cq_name STRING, bucket STRING") {
    override def root = s"$cqRoot/_catalog"
    override def sqlTables = cqCatalog().map { case (n, _) =>
      s"cq_$n".toLowerCase -> (() => cqTable(n))
    }
    def catchUp(at: Pinned): Unit =
      cqCatalog().foreach { case (n, _) => refreshCqAt(at, n) }
  }

  /** date_trunc units a CQ may bucket by (all divide a day, so a bucket
    * never straddles the `day` partition boundary). */
  private val cqBuckets = Set("minute", "hour", "day")

  private val cqResultSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "bucket_start TIMESTAMP, name STRING, n BIGINT, sum_v DOUBLE, " +
      "min_v DOUBLE, max_v DOUBLE, series STRING, day DATE")

  @volatile private var cqCache: Seq[(String, String)] = null

  /** Registered continuous queries as (name, bucket unit), sorted.
    * Catalog-sized; cached until a register through THIS engine
    * (a fresh Engine on the same warehouse re-reads — restart-safe). */
  def cqCatalog(): Seq[(String, String)] = {
    val cached = cqCache
    if (cached != null) cached
    else {
      val cat =
        if (!cqStore.exists) Seq.empty[(String, String)]
        else cqStore.table().collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq.sortBy(_._1)
      cqCache = cat
      cat
    }
  }

  /** Register a continuous query `name` bucketing by `bucket` (one of
    * minute/hour/day). Its rollup becomes SELECT-able as `cq_<name>` on
    * the SQL surface. Re-registering the same (name, bucket) is a no-op;
    * changing the bucket of an existing name is an error (register the
    * new bucket under another name) —
    * half-refreshed state under a silently-changed bucket would mix
    * granularities. */
  def registerCq(name: String, bucket: String): Unit =
    maintaining {
      require(name.matches("[A-Za-z][A-Za-z0-9_]*"),
        s"cq name must match [A-Za-z][A-Za-z0-9_]*, got '$name'")
      require(cqBuckets.contains(bucket),
        s"cq bucket must be one of ${cqBuckets.toSeq.sorted.mkString("/")}, " +
          s"got '$bucket'")
      val viewName = s"cq_$name".toLowerCase
      if (listSeries().exists(_.toLowerCase == viewName))
        throw new IllegalStateException(
          s"a series named '$viewName' already exists; the continuous " +
            "query would shadow it on the SQL surface")
      val cat = cqCatalog()
      cat.find(_._1 == name) match {
        case Some((_, b)) if b == bucket => // idempotent re-register
        case Some((_, b)) => throw new IllegalStateException(
          s"continuous query '$name' already registered with bucket " +
            s"'$b'; register the '$bucket' rollup under another name")
        case None =>
          writeCqCatalog(cat :+ (name -> bucket))
      }
    }

  private def writeCqCatalog(cat: Seq[(String, String)]): Unit = {
    atomicOverwrite(cat.toDF("cq_name", "bucket"), cqStore.root, Seq.empty)
    cqCache = null
  }

  /** The rollup maintained for CQ `name` (empty frame before the first
    * refresh). Schema pinned like [[table]] for read compatibility. */
  def cqTable(name: String): DataFrame = {
    require(cqCatalog().exists(_._1 == name),
      s"no continuous query '$name'")
    if (pathExists(cqTargetPath(name)))
      spark.read.schema(cqResultSchema).parquet(cqTargetPath(name))
    else emptyFrame(cqResultSchema)
  }

  /** Refresh every registered CQ; returns per-name recomputed slice
    * counts. Hook it manually or via [[ingestStream]]'s cqEveryBatches. */
  def refreshCqs(): Map[String, Long] =
    cqCatalog().map { case (n, _) => n -> refreshCq(n) }.toMap

  /** Incremental refresh of one CQ (algorithm in the section comment).
    * Returns the number of (series, day) slices recomputed. */
  def refreshCq(name: String): Long = refreshing(refreshCqAt(_, name))

  /** [[refreshCq]] to the leaves of `at`, under its caller's frame (it
    * takes no lock). */
  private def refreshCqAt(at: Pinned, name: String): Long = {
    require(cqCatalog().exists(_._1 == name),
      s"no continuous query '$name'")
    val bucket = cqCatalog().toMap.apply(name)
    val target = cqTargetPath(name)
    if (!exists) 0L
    else catchUpLedger(s"$cqRoot/$name", at) { (base, dirty, fold) =>
      if (base.isEmpty) deletePath(target)
      val slices = dirty ++ fold.map(sliceOf)
      val live = at.leaves.filter(l => slices(sliceOf(l)))
      if (live.nonEmpty) {
        // the rollup aggregate — the ENGINE consumer of the skew
        // advisory→action loop (round-14 VERDICT #4): behind the
        // opt-in -Dgraft.skew.autosalt flag, the oracle-gated
        // skewReadout prices the composite (series, field, bucket)
        // key and a hot key flips this to the two-phase salted
        // plan (results identical, SkewSpec + EngineSpec pins);
        // flag off ⇒ the returned plan IS the plain groupBy/agg
        val keyed = readLeaves(live).drop("ingest_batch")
          .withColumn("bucket_start", date_trunc(bucket, col("time")))
        val (agg0, saltedPath) = graft.operators.Skew
          .autoSaltedStatsAgg(keyed,
            Seq("series", "name", "bucket_start"), col("value"))
        if (saltedPath)
          logWarning(s"cq $name: hot (series, field, bucket) key — " +
            "two-phase salted rollup engaged (results identical)")
        agg0
          // bucket units divide a day, so the bucket's date IS the
          // slice's day partition
          .withColumn("day", col("bucket_start").cast("date"))
          .select(col("bucket_start"), col("name"), col("n"),
            col("sum_v"), col("min_v"), col("max_v"), col("series"),
            col("day"))
          .repartition(col("series"), col("day"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("series", "day")
          .parquet(target)
      }
      // slices with no live leaf left: their rows are gone, and so must
      // their target dirs be (a dynamic overwrite only replaces the
      // partitions it writes); emptied series parents go with them
      for ((s, d) <- slices -- live.map(sliceOf)) {
        val seriesDir = s"$target/series=${org.apache.spark.sql.catalyst
          .catalog.ExternalCatalogUtils.escapePathName(s)}"
        deletePath(s"$seriesDir/day=$d")
        if (pathExists(seriesDir) &&
            fs(seriesDir).listStatus(new org.apache.hadoop.fs.Path(seriesDir))
              .isEmpty) deletePath(seriesDir)
      }
      writeLedger(s"$cqRoot/$name", at)
    }
  }

  // ----------------------------------------------------------------- query

  /** R12/R14: ad-hoc SQL over the series catalog. The reference's substring
    * blocklist (rejects any query mentioning `created_at`! SURVEY Q-D) is
    * replaced by a real parse: anything that is a command/DML is rejected,
    * plain SELECTs — including aggregates, joins across series (Q-F lift),
    * and `created_at` filters — run through Catalyst. */
  def query(sql: String): Either[String, DataFrame] = {
    val plan: Either[String, LogicalPlan] =
      Try(spark.sessionState.sqlParser.parsePlan(sql))
        .toEither.left.map(e => s"parse error: ${e.getMessage}")
    plan.flatMap { p =>
      val writeNode = p.collectFirst {
        case c: Command => c.nodeName
        case i: InsertIntoStatement => i.nodeName
        case s: ParsedStatement => s.nodeName
      }
      writeNode match {
        case Some(n) => Left(s"only read-only SELECT is allowed (got $n)")
        case None =>
          // LAZY per-series views: register only the relations the parsed
          // plan actually names (round-2 fix — the old code re-registered a
          // view for EVERY series on EVERY query: O(#series) driver work
          // per request at 100k series). Identifier match is
          // case-insensitive, like Spark's own resolution. Re-registering a
          // referenced view per query is deliberate: the view's plan pins
          // the file-index snapshot taken at creation, so a stale view
          // would miss batches ingested since.
          val series = listSeries()
          val byLower = series.map(s => s.toLowerCase -> s).toMap
          // collectWithSubqueries: relations referenced only inside subquery
          // expressions (scalar/IN/EXISTS) must be registered too (round-2
          // ADVICE fix — plain collect does not descend into them)
          val rels = p.collectWithSubqueries {
            case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
                if r.multipartIdentifier.length == 1 =>
              r.multipartIdentifier.head
          }.distinct
          // side tables are RESERVED names on the SQL surface (like
          // "measurements"): quarantine and every side store's SQL
          // tables answer SELECTs too. A series that ALSO carries one of
          // these names is ambiguous — fail LOUDLY rather than silently
          // swap which data the query reads (review fix: old warehouses
          // can legally contain such series).
          val sideTables: Map[String, () => DataFrame] =
            (("quarantine" -> (() => quarantine())) +:
              sideStores.flatMap(_.sqlTables)).toMap
          val clash = rels.find(n => sideTables.contains(n.toLowerCase) &&
            byLower.contains(n.toLowerCase))
          if (clash.isDefined)
            Left(s"'${clash.get}' is a reserved side-table name that " +
              "also exists as a series; read the series via measurements " +
              s"WHERE series = '${byLower(clash.get.toLowerCase)}'")
          else Engine.viewLock(spark).synchronized {
          rels.foreach { name =>
            sideTables.get(name.toLowerCase) match {
              case Some(mk)
                  if Engine.ownsView(spark, name) ||
                    !spark.catalog.tableExists(name.toLowerCase) =>
                mk().createOrReplaceTempView(name.toLowerCase)
                Engine.claimView(spark, name)
              case Some(_) => // user-registered view of that name: keep it
              case None =>
            byLower.get(name.toLowerCase) match {
              case Some(s) =>
                // per-series view, like the reference's per-series tables;
                // "measurements" is reserved, and a series may not clobber
                // a view/table it did not itself create (data-controlled
                // names must not shadow unrelated session state)
                if (s.matches("[A-Za-z_][A-Za-z0-9_]*") &&
                    s != "measurements" &&
                    (Engine.ownsView(spark, s) ||
                      !spark.catalog.tableExists(s))) {
                  table().filter(col("series") === s)
                    .createOrReplaceTempView(s)
                  Engine.claimView(spark, s)
                }
              case None =>
                // an owned view whose series vanished (warehouse swapped,
                // data expired): drop it — fail with "table not found"
                // rather than serving a stale snapshot
                if (Engine.ownsView(spark, name)) {
                  spark.catalog.dropTempView(name)
                  Engine.releaseView(spark, name)
                }
            }
            }
          }
          table().createOrReplaceTempView("measurements")
          Try(spark.sql(sql)).toEither.left.map(e => s"analysis error: ${e.getMessage}")
          }
      }
    }
  }

  /** R16: real JSON rows (the reference returns Rust debug strings inside a
    * JSON string, SURVEY Q-J), streamed partition-at-a-time.
    *
    * `toLocalIterator` schedules one job per partition and holds at most
    * ONE partition's rows on the driver at a time, so a full-table SELECT
    * through the HTTP surface is bounded by partition size, not result
    * size — the round-6 "unbounded driver collect in a user-facing hot
    * path" fix. (The reference has the same flaw, utils/db.rs:18-27; our
    * bar is the 100 TB posture.) The JSON rendering itself runs on the
    * executors (`toJSON` is a distributed map); the driver only relays
    * strings. */
  def jsonRowIterator(df: DataFrame): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    df.toJSON.toLocalIterator().asScala
  }

  /** Fully-materialized convenience for small results (tests, internal
    * tooling). User-facing paths must use [[jsonRowIterator]]. */
  def toJsonRows(df: DataFrame): Seq[String] = jsonRowIterator(df).toSeq
}

object Engine {
  /** Canonical on-disk schema of the measurements table: data columns in
    * write order, then the partition columns in partitionBy order. Every
    * read pins this schema so old batch dirs (pre-value_str/value_bool)
    * and new ones read identically. */
  private[engine] val canonicalSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "id STRING, time TIMESTAMP, created_at TIMESTAMP, name STRING, " +
        "value DOUBLE, value_long BIGINT, value_str STRING, " +
        "value_bool BOOLEAN, tags MAP<STRING,STRING>, " +
        "ingest_batch STRING, series STRING, day DATE")

  /** One writer identity per driver JVM (see the writer-lease section):
    * engines in this JVM share it, a second JVM gets its own and is
    * rejected by the lease check. */
  private[engine] val writerId: String =
    java.util.UUID.randomUUID().toString

  /** JVM-wide per-table write lock: writeBatch appends and compact()'s
    * snapshot→swap are mutually exclusive even when several Engine
    * instances (or streaming foreachBatch threads) share one warehouse
    * path in this driver. Keyed by table path, never evicted — the set of
    * distinct warehouse paths per JVM is tiny. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The table path whose maintenance round this thread is running the
    * hooks of (unset outside a round's hooks). */
  private val roundWorkerOf = new ThreadLocal[String]

  /** A round's hooks run under the maintenance lock while the stream's
    * writes hold the table lock: a hook asking for the table lock would
    * stall the round behind them, or deadlock where the round is waited
    * for under it. Fail loudly instead. */
  private def tableLock(path: String): Object = {
    if (roundWorkerOf.get == path)
      throw new IllegalStateException(s"a maintenance-round worker asked " +
        s"for the table lock of $path, which its coordinator holds — a " +
        "round body must not call a locking method")
    tableLocks.computeIfAbsent(path, _ => new Object)
  }

  /** JVM-wide per-table MAINTENANCE lock. Held across:
    *  - an entire journal-writing operation (mergeBatch incl. its
    *    store catch-up, dropSeries, applyRetention,
    *    compact): exactly one journal may be live per table, so journals
    *    never clobber each other and replay never races a live op;
    *  - every writer of a side-store root: a background
    *    [[Engine!.maintenanceRound]] (which holds it alone, so appends
    *    keep committing), the explicit store refreshes, registerCq and
    *    vacuum. So no refresh lands between a merge's publish and its
    *    store catch-up, and nothing deletes a round's pinned leaves or
    *    staging mid-round;
    *  - a replayed [[Engine!.writeBatch]], whose batch directory a round
    *    may be reading.
    * Lock order: maintenance lock OUTER, table lock inner — nothing
    * takes them in the other order (recovery runs under the table lock
    * only, is gated on [[liveMaintenance]], and its store steps take no
    * maintenance lock). Plain appends and all reads take only the table
    * lock: a maintenance round never blocks them, and a merge blocks
    * appends only while it commits and while its stores catch up. */
  private val maintenanceLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[engine] def maintenanceLock(path: String): Object =
    maintenanceLocks.computeIfAbsent(path, _ => new Object)

  /** JVM-wide per-store-root SWAP lock: a staged swap's rename pair and
    * a reader's `.old` restore exclude each other. A leaf lock — held
    * for two renames, never while taking another. */
  private val swapLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def swapLock(path: String): Object =
    swapLocks.computeIfAbsent(path, _ => new Object)

  /** Tables with a LIVE journaled maintenance op in this JVM (set while
    * the journal exists legitimately): [[Engine!.exists]]-recovery must
    * not replay a journal out from under its living writer. Keyed by
    * table path so every Engine instance sharing the warehouse agrees
    * (the round-15 flag was per-instance — a second engine object could
    * start recovery before a merge's store catch-up). */
  private[engine] val liveMaintenance: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Session-scoped registry of series views created by ANY Engine: a
    * series view may be replaced by engines sharing the session (latest
    * query wins, like the reference's per-series stores), but a
    * data-controlled series name can never clobber an unrelated
    * user-registered view/table.
    *
    * Keys are LOWERCASED: Spark resolves temp views case-insensitively, so
    * ownership must be case-insensitive too — otherwise `SELECT ... FROM
    * VANISH_X` would resolve a stale owned view that the vanished-series
    * drop path failed to recognize as ours (round-2 ADVICE fix). */
  private val ownedViews = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Set[String]]())

  /** Per-session lock serializing temp-view registration + SQL analysis
    * in [[Engine.query]] (and the view drop in dropSeries): the
    * ApiServer's request pool (round 7) runs handlers concurrently, so
    * without this, request B could drop/replace a view request A just
    * registered before A's analysis ran — a spurious "table not found"
    * under concurrency. Analysis is milliseconds; EXECUTION (iterating
    * the returned frame) stays outside the lock and fully parallel. */
  private val viewLocks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Object]())
  private[engine] def viewLock(spark: SparkSession): Object =
    viewLocks.computeIfAbsent(spark, _ => new Object)

  private def ownsView(spark: SparkSession, name: String): Boolean =
    Option(ownedViews.get(spark)).exists(_.contains(name.toLowerCase))

  private def claimView(spark: SparkSession, name: String): Unit =
    ownedViews.computeIfAbsent(spark,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
      .add(name.toLowerCase)

  private def releaseView(spark: SparkSession, name: String): Unit =
    Option(ownedViews.get(spark)).foreach(_.remove(name.toLowerCase))
}
