package perfbench

import org.apache.spark.sql.DataFrame

import graft.queries._

/** The analyst's batch job: a fixed set of DataFrame queries, one or more
  * from each of the twelve query families, run closed-loop by one caller
  * over generated tables that fit in memory.
  *
  * Set-up generates the tables (three times; the median counts) and runs
  * every query's executed plan once untimed, which also checks its row
  * count against the expectations recorded for the generated tables. Then whole passes over
  * the queries, each in a seed-shuffled order, fill the run's seconds
  * (one pass per `PassSeconds`); each execution is the query
  * function's call plus its execution into the `noop` sink, like
  * graft.Bench. The end-to-end latency is one pass (the batch job); its
  * tail is the slowest query's median over the passes. */
object Analytics {

  val Families: Seq[(String, QuerySet)] = Seq(
    "core" -> CoreQueries, "join" -> JoinQueries, "agg" -> AggQueries,
    "window" -> WindowQueries, "timeseries" -> TimeseriesQueries,
    "function" -> FunctionQueries, "ingest" -> IngestQueries,
    "dedup" -> DedupQueries, "similarity" -> SimilarityQueries,
    "text" -> TextQueries, "multimodal" -> MultimodalQueries,
    "pipeline" -> PipelineQueries)

  /** The measured queries: one mid-weight query per family, plus the
    * heaviest join query (`q_basket_triples`) and `q_theil_sen`, both on
    * the optimisation backlog. */
  val Queries: Seq[String] = Seq(
    "q_subqueries", "q_basket_triples", "q14_groupby_agg", "q21_frames",
    "q_theil_sen", "q32_json_funcs", "q_ingest_generator",
    "q_dedup_minhash_lsh", "q34b_ann_ivf", "q_text_bm25",
    "q_multimodal_features", "q_pipeline_clean")

  val DataSeed = 42L
  val Scale = 0.2
  val SetupReps = 2
  /** About how long one pass over the queries takes. */
  val PassSeconds = 4

  private lazy val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.queries.keys.map(_ -> f) }.toMap

  private lazy val fns: Map[String, QuerySet#Q] =
    Families.flatMap(_._2.queries).toMap

  /** Row counts recorded for the generated tables at `DataSeed`/`Scale`. */
  lazy val expectedRows: Map[String, Long] = {
    val in = getClass.getResourceAsStream("/perfbench/analytics_rows.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, n) = l.split("\t"); q -> n.toLong }.toMap
    finally in.close()
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: RunCtx): Result = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    def dropLeakedBlocks(): Unit =
      try sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      catch { case _: Throwable => () }
    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // ---- set-up: generate the tables, then one untimed run per query
    val genTimes = (1 to SetupReps).map { i =>
      time(AnalyticsData.generate(spark, ctx.dir(s"data-$i"), DataSeed, Scale))._2
    }
    val dir = ctx.work.resolve(s"data-$SetupReps").toString
    val checks = Seq.newBuilder[String]
    val wrong = scala.collection.mutable.Set.empty[String]
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val (_, warmS) = time(Queries.foreach { q =>
      try {
        // the executed plan of the whole query, rows counted: warms the
        // same code the timed runs use and yields the row count
        val n = fns(q)(spark, dir).queryExecution.toRdd.count()
        rows(q) = n
        expectedRows.get(q) match {
          case Some(e) if e == n =>
          case Some(e) => wrong += q; checks += s"$q returned $n rows, expected $e"
          case None => wrong += q; checks += s"$q has no recorded row count (got $n)"
        }
      } catch {
        case e: Throwable => wrong += q; checks += s"$q failed in warm-up: $e"
      }
      dropLeakedBlocks()
    })
    val setupS = Stats.median(genTimes) + warmS

    // ---- measurement: whole passes in seed-shuffled order
    val rng = new Rng(ctx.seed)
    val trace = new Trace(spark)
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // per traced pass: family -> (build s, exec s)
    val famPasses = Vector.newBuilder[Map[String, (Double, Double)]]
    val passTimes = Vector.newBuilder[(Boolean, Double)]
    var attempted = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    var traceFrom = 0L
    var pass = 0
    // a fixed number of passes per run, so every run times the same work:
    // about one pass per PassSeconds of the run's seconds; a traced run
    // makes one more untraced pass (the JVM still warms during the first)
    // and then four, traced-untraced-untraced-traced, so a steady trend in
    // pass times cancels out of the listener's measured overhead
    val passes = if (ctx.traced) 5 else math.max(1, ctx.seconds / PassSeconds)
    while (pass < passes) {
      val traced = ctx.traced && (pass == 1 || pass == 4)
      if (traced) trace.install() else if (ctx.traced) trace.uninstall()
      if (traced && pass == 1) traceFrom = System.currentTimeMillis()
      val fam = scala.collection.mutable.Map.empty[String, (Double, Double)]
        .withDefaultValue((0.0, 0.0))
      var passS = 0.0
      rng.shuffle(Queries).foreach { q =>
        attempted += 1
        try {
          def execute() = {
            val (df, b) = time(fns(q)(spark, dir))
            val (_, e) = time(sink(df))
            (b + e, b, e)
          }
          val (s, build, exec) =
            if (traced) trace.span(s"query:$q")(execute()) else execute()
          samples(q) :+= s
          passS += s
          val (b0, e0) = fam(familyOf(q))
          fam(familyOf(q)) = (b0 + build, e0 + exec)
          if (wrong(q)) failed += 1
        } catch {
          case e: Throwable =>
            failed += 1
            checks += s"$q failed: $e"
        }
        dropLeakedBlocks()
      }
      passTimes += (traced -> passS)
      if (traced) famPasses += fam.toMap
      pass += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val traceTo = System.currentTimeMillis()

    val perQuery = Queries.filter(samples(_).nonEmpty).map(q => q -> Stats.median(samples(q)))
    val all = samples.values.flatten.toSeq
    val named = Seq(
      ("failed_frac", Stats.failedFrac(attempted, failed), "frac"),
      ("suite_s", perQuery.map(_._2).sum, "s"),
      ("query_p50_s", if (all.isEmpty) 0.0 else Stats.median(all), "s"))
    // the unit of work is one pass (the analyst's batch job); a run's few
    // passes support no percentile above the median, so the tail is the
    // slowest query (its median over the passes)
    val passMs = passTimes.result().map(_._2 * 1e3)
    val e2e = Result.endToEnd(setupS, Stats.median(passMs),
      (0.0 +: perQuery.map(_._2)).max * 1e3, all.size / all.sum)
    val detail = Seq(
      "queries" -> Json.obj(perQuery.map { case (q, s) => q -> Json.num(s) }),
      "rows" -> Json.obj(rows.toSeq.map { case (q, n) => q -> n.toString }),
      "passes" -> pass.toString,
      "samples" -> all.size.toString,
      "setup_generate_s" -> Json.obj(genTimes.zipWithIndex.map { case (s, i) => s"$i" -> Json.num(s) }),
      "setup_warmup_s" -> Json.num(warmS),
      "pass_s" -> passTimes.result().map(p => Json.num(p._2)).mkString("[", ",", "]"))

    if (!ctx.traced) Result(attempted, failed, checks.result(), named, e2e, detail)
    else {
      trace.settle()
      trace.uninstall()
      val fams = famPasses.result()
      val jobs = trace.jobsIn(traceFrom, traceTo + 1)
      val famJobs = jobs.groupBy(j => familyOf.getOrElse(j.span.stripPrefix("query:"), ""))
      val famMetrics = Families.map(_._1).filter(f => fams.exists(_.contains(f))).flatMap { f =>
        Seq(
          (s"queries.$f.build_s", Stats.median(fams.map(_.getOrElse(f, (0.0, 0.0))._1)), "s"),
          (s"queries.$f.exec_s", Stats.median(fams.map(_.getOrElse(f, (0.0, 0.0))._2)), "s"),
          (s"queries.$f.jobs", famJobs.getOrElse(f, Nil).size.toDouble / fams.size, "count"))
      }
      val pt = passTimes.result().drop(1)
      val untraced = pt.filterNot(_._1).map(_._2)
      val tracedP = pt.filter(_._1).map(_._2)
      val overhead = tracedP.sum / untraced.sum - 1
      val perQueryJobs = jobs.size.toDouble / (fams.size * Queries.size)
      val layer = famMetrics ++
        Trace.sparkMetrics(jobs, tracedP.sum, ctx.cores, trace.planSeconds) ++ Seq(
          ("spark.jobs_per_query", perQueryJobs, "count"),
          ("jvm.heap_after_gc_mb", Jvm.heapAfterGcMb(), "MB"),
          ("trace.overhead_frac", overhead, "frac"))
      trace.dump(ctx.work.resolve("spans.jsonl"))
      Result(attempted, failed, checks.result(), named, layer, detail ++ Seq(
        "untraced_pass_s" -> Json.num(Stats.median(untraced)),
        "traced_pass_s" -> Json.num(Stats.median(tracedP)),
        "wall_s" -> Json.num(wallS)))
    }
  }
}
