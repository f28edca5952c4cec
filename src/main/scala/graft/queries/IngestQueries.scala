package graft.queries

import org.apache.spark.sql.functions._

import graft.ingest.IngestPipeline
import graft.engine.Engine

/** Oracle-checked ingest queries: line-protocol text is BUILT from the
  * events table with Catalyst string expressions, parsed back through the
  * real typed ingest path (IngestPipeline.parseAll — the same mapPartitions
  * parse the engine's batch and streaming writers use), and the fan-out is
  * compared against DuckDB reconstructing the expected rows directly.
  *
  * This turns the typed-field union (double / `42i` long / string / bool,
  * reference README.md:50's TODO) and D6 tag escaping into driver-gated
  * correctness surface instead of spec-only coverage: every event becomes
  * one line carrying all four field types, an escaped-space tag value
  * (`h\ <n>` → "h <n>") and a nanosecond timestamp.
  */
object IngestQueries extends QuerySet {

  /** Line-protocol text built from events: every event becomes one line
    * carrying all four field types, an escaped-space tag and a ns
    * timestamp. */
  private def builtLines(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "events").select(concat(
      lit("meter,host=h\\ "), col("user_id") % 10,
      lit(" cnt="), col("event_id"), lit("i,ratio="), col("value"),
      lit(",label=\""), col("event_type"), lit("\",ok="),
      col("event_id") % 2 === 0,
      lit(" "), unix_micros(col("ts")) * 1000).as("value"))

  /** Shared projection + total order over the parsed per-field rows. */
  private def canonOut(parsed: org.apache.spark.sql.DataFrame) =
    parsed
      .filter(col("parse_error").isNull)
      .select(col("series"), col("name"), col("value"), col("value_long"),
        col("value_str"), col("value_bool"), col("time_ns"),
        col("tags").getItem("host").as("host"))
      // (time_ns, name) is unique per event+field; remaining columns only
      // break ties between events sharing an identical ns timestamp, and
      // within such a tie group every row has the same null columns (same
      // field name), so Spark/DuckDB null-placement defaults never differ
      .orderBy(col("time_ns"), col("name"), col("value_long"), col("value"),
        col("value_str"), col("value_bool"), col("host"))

  val queries: Map[String, Q] = Map(
    "q_ingest_typed" -> { (s, dir) =>
      canonOut(IngestPipeline.parseAll(s, builtLines(s, dir)))
    },

    // The SAME semantics through the custom Catalyst GENERATOR
    // (functions/ExplodeLineGenerator, §2.4k UDTF rung): the Generate
    // fan-out must reproduce the mapPartitions ingest path row-for-row,
    // certified against the identical DuckDB oracle. At scale Generate
    // pipelines inside the scan stage exactly like the typed flatMap —
    // this query exists so the generator surface has a driver-gated
    // correctness row, not just spec coverage.
    "q_ingest_generator" -> { (s, dir) =>
      import graft.functions.ExplodeLine.explode_line
      canonOut(builtLines(s, dir).select(explode_line(col("value"))))
    },

    // ENGINE MERGE, oracle-gated (round-14 VERDICT #1): the events fact
    // seeds a REAL engine warehouse (writeBatch → series/day partition
    // dirs), a deterministic CDC feed runs through Engine.mergeBatch
    // (the copy-on-write MERGE that rewrites ONLY touched (series, day)
    // partitions through the staged-rename swap — the reference's own
    // immutability TODO, persistence.rs:39), and the readout aggregates
    // the MERGED TABLE STATE — so the oracle (DuckDB computing the same
    // WHEN MATCHED/NOT MATCHED semantics directly over events) gates
    // the whole engine path: seed write, feed join, partition rewrite,
    // crash-safe swap, re-read. Feed (keys ≡3 mod 10 update +7.77 and
    // re-tag, ≡7 delete, ≡1 insert a suffixed new key at +1.11 — the
    // q_merge_upsert synthesis, zero randomness) is cut to the first
    // week, so touched = 7 days × 5 series of ~30×5 partitions — the
    // artifact demonstrates cost tracking touched blocks, not the
    // corpus. Field names carry the full event_id (key-unique by
    // construction at ANY replica interleaving). Built once per
    // (dir, mtime) via staging+rename (the ZoneMaps artifact recipe);
    // the measured cost is the merged-state scan + catalog-sized agg.
    // ENGINE SEARCH, oracle-gated (the q_merge_engine move applied to
    // the retrieval serving path): events seed a REAL engine warehouse
    // whose value_str fields form a deterministic 3-token corpus
    // (w<id%5> w<uid%7> w<id%3> — small synthetic vocab, so tf > 1 rows
    // exist and ties exercise the total order), buildSearchIndex
    // persists the postings+forward stores, and the query IS
    // Engine.searchFrame("w1 w2", k=20) — so the oracle (DuckDB
    // recomputing BM25 from events with the EXACT bm25Micro operand
    // order) gates the whole serving path: seed write, index build,
    // term-bucket pruned scan, shared-formula scoring, TakeOrdered.
    // The spec-gated /search endpoint serves exactly this frame.
    // Built once per (dir, mtime); measured cost = the pruned postings
    // scan + per-doc agg + top-k.
    "q_search_engine" -> { (s, dir) =>
      searchableEngine(s, dir).searchFrame(Seq("w1", "w2"), 20)
    },

    "q_merge_engine" -> { (s, dir) => mergedEngine(s, dir).table()
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        sum(when(col("tags").getItem("adj") === "y", 1L).otherwise(0L))
          .as("n_adjusted"),
        sum(when(col("name").endsWith("x"), 1L).otherwise(0L))
          .as("n_inserted"))
      .orderBy(col("series"))
    },

    // ENGINE SEARCH REFRESH, oracle-gated (round-15, VERDICT #2): half
    // the corpus seeds the warehouse and builds the index FROM SCRATCH;
    // the other half lands as a SECOND batch and folds in via
    // refreshSearchIndex — the store-plus-delta path, where only the
    // unseen batch re-tokenizes and tf partials merge ADDITIVELY (doc
    // cells sharing (series, 'doc', ts) across the two batches
    // concatenate — this query exists to gate exactly that additivity).
    // The query serves searchFrame("w2 w3", 20) from the REFRESHED
    // store while the oracle recomputes BM25 over the WHOLE corpus:
    // the gate IS refresh ≡ rebuild (the q_ivm_* equivalence posture).
    "q_search_refresh" -> { (s, dir) =>
      refreshedSearchEngine(s, dir).searchFrame(Seq("w2", "w3"), 20)
    },

    // ENGINE SEARCH UNDER MERGE, oracle-gated (round-15, VERDICT #1 —
    // the search store joins the dependent-store discipline): docs
    // d<event_id> seed the warehouse, the index builds, then a merge
    // RE-TEXTS every first-week doc with event_id≡4 (mod 10) and
    // DELETES every first-week doc with event_id≡6. mergeBatch's
    // reconcile refreshes the postings store (prune touched partials +
    // fold the merge batch), and the query serves the post-merge
    // ranking from the STORE — deleted docs must stop ranking, updated
    // docs must rank under their NEW text. The oracle recomputes BM25
    // from the merged document set directly.
    "q_search_merge" -> { (s, dir) =>
      searchMergedEngine(s, dir).searchFrame(Seq("w1", "w2"), 20)
    },

    // SCOPED SEARCH, oracle-gated (round-15 VERDICT #3): the same
    // searchable warehouse, but the query is "w1 w2, in series 'click',
    // Jan 8–21" — series/from/to ride the store-only term-bucket-pruned
    // scan as candidate filters while the BM25 statistics stay GLOBAL
    // (the Lucene filter-query semantics; the oracle recomputes corpus
    // stats over ALL docs, then restricts candidates to the slice, so a
    // pass certifies both the pushdown AND that scoping does not
    // re-weight the corpus). Same artifact as q_search_engine — the
    // measured cost is the scoped pruned read, no extra build.
    "q_search_scoped" -> { (s, dir) =>
      searchableEngine(s, dir).searchFrame(Seq("w1", "w2"), 20,
        Some("click"), Some(1704672000000000L), Some(1705881599999999L))
    },

    // TIME TRAVEL, oracle-gated (round-16 — the manifest read path's
    // natural dividend): two writes land the corpus in halves (batch
    // b1 = even event_ids, b2 = odd), then a deterministic U/D merge
    // rewrites first-week rows — THREE committed versions of one
    // warehouse. The query reads all three AS OF their versions
    // (resolved from history() by op, never hardcoded numbers):
    // tableAt(write:b1) must see HALF the corpus, tableAt(write:b2)
    // the whole pre-merge corpus (even though the merge has since
    // retired some of those batches' leaf dirs in place), and table()
    // the merged state — while the oracle recomputes each state
    // directly from events. A retention-aware vacuum(keepVersions=8)
    // runs inside the artifact build AFTER the merge: the pass also
    // certifies that snapshot-retaining GC keeps every referenced leaf
    // (a current-version-only vacuum would delete the retired dirs and
    // tableAt would fail loudly). One oracle row gates version
    // resolution, snapshot reconstruction, merge isolation and GC
    // retention together.
    "q_time_travel" -> { (s, dir) =>
      val e = timeTravelEngine(s, dir)
      val vByOp = e.history().map(_.swap).toMap
      def state(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy(lit(tag).as("snapshot"), col("series"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
      state(e.tableAt(vByOp("write:b1")), "b1")
        .unionAll(state(e.tableAt(vByOp("write:b2")), "b1b2"))
        .unionAll(state(e.table(), "merged"))
        .orderBy(col("snapshot"), col("series"))
    },

    // VERSION DIFF, oracle-gated (round-16 — the Delta CDF /
    // table_changes analog, composed from time travel): the change
    // feed BETWEEN two committed versions of the same warehouse,
    // recovered post-hoc from the snapshots themselves — ONE
    // full-outer join of tableAt(pre-merge) vs table() on the merge
    // key (series, name, time), rows classified deleted / changed /
    // unchanged (q_snapshot_diff DETECTS changes between synthesized
    // states; this recovers them between ENGINE versions — what an
    // incremental consumer reads after the fact when the mutation
    // didn't emit its own CDC). Readout per (series, change): row
    // count and the exact net cents delta — one mis-recovered row
    // flips the hash. Scale shape: a two-snapshot diff is inherently
    // one corpus-sized equi-join (AQE skew-safe); everything after is
    // catalog-sized.
    "q_version_diff" -> { (s, dir) =>
      val e = timeTravelEngine(s, dir)
      val vByOp = e.history().map(_.swap).toMap
      val cents = (c: org.apache.spark.sql.Column) =>
        round(c * 100).cast("long")
      e.tableAt(vByOp("write:b2")).as("p")
        .join(e.table().as("c"),
          Seq("series", "name", "time"), "full_outer")
        .select(col("series"),
          when(col("c.id").isNull, "deleted")
            .when(col("p.value") =!= col("c.value"), "changed")
            .otherwise("unchanged").as("change"),
          (coalesce(cents(col("c.value")), lit(0L)) -
            coalesce(cents(col("p.value")), lit(0L))).as("delta"))
        .groupBy(col("series"), col("change"))
        .agg(count(lit(1)).as("n"), sum(col("delta")).as("cents_delta"))
        .orderBy(col("series"), col("change"))
    }
  )

  /** Build-once-per-(dir, mtime) engine-warehouse artifact: `build`
    * populates a STAGING warehouse, which renames into place atomically
    * (a concurrent builder losing the rename just discards its copy).
    * `root` versions the artifact — bump it when the store layout or
    * the build path changes, so artifacts cached by older code rebuild
    * through the new one. */
  private def engineArtifact(s: org.apache.spark.sql.SparkSession,
      dir: String, root: String)(build: Engine => Unit): Engine = {
    val src = new java.io.File(s"$dir/events.parquet")
    val key = Integer.toHexString(scala.util.hashing.MurmurHash3
      .stringHash(s"${src.getCanonicalPath}@${src.lastModified}"))
    val out = s"${sys.props("java.io.tmpdir")}/$root/events_$key"
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) {
      val stage = new org.apache.hadoop.fs.Path(out + ".staging")
      fs.delete(stage, true)
      val e = new Engine(s, stage.toString)
      build(e)
      e.releaseWriterLease()
      if (!fs.rename(stage, p)) {
        if (fs.exists(p)) fs.delete(stage, true) // concurrent builder won
        else throw new java.io.IOException(
          s"engine artifact: rename $stage -> $p failed with no winner")
      }
    }
    new Engine(s, out)
  }

  /** The shared doc-corpus projection: every event is one `value_str`
    * document with a 3-token text from a small synthetic vocabulary
    * (w<id%5> w<uid%7> w<id%3> — tf > 1 rows exist and ties exercise
    * the total order). `docName` controls doc-cell identity: lit("doc")
    * merges same-(type, ts) events into one concatenated cell; a
    * per-event name keeps cells unique (what the MERGE feed keys
    * require). */
  private def searchDocRows(ev: org.apache.spark.sql.DataFrame,
      docName: org.apache.spark.sql.Column) =
    ev.select(
      col("event_type").as("series"),
      expr("uuid()").as("id"),
      col("ts").as("time"),
      current_timestamp().as("created_at"),
      docName.as("name"),
      lit(null).cast("double").as("value"),
      lit(null).cast("long").as("value_long"),
      concat(lit("w"), pmod(col("event_id"), lit(5L)),
        lit(" w"), pmod(col("user_id"), lit(7L)),
        lit(" w"), pmod(col("event_id"), lit(3L))).as("value_str"),
      lit(null).cast("boolean").as("value_bool"),
      map().cast("map<string,string>").as("tags"))

  /** The searchable-warehouse artifact: seed string-field docs from
    * events, build the BM25 postings+forward stores, reuse per
    * (dir, mtime). wh7: the store ledger lists folded leaves. */
  private def searchableEngine(s: org.apache.spark.sql.SparkSession,
      dir: String): Engine =
    engineArtifact(s, dir, "graft_search_wh7") { e =>
      e.writeBatch(searchDocRows(graft.Tables.load(s, dir, "events"),
        lit("doc")), "b-seed")
      e.buildSearchIndex()
    }

  /** The refreshed-search artifact (q_search_refresh): build from half
    * the corpus, ingest the rest, fold it in INCREMENTALLY. */
  private def refreshedSearchEngine(s: org.apache.spark.sql.SparkSession,
      dir: String): Engine =
    engineArtifact(s, dir, "graft_search_refresh_wh5") { e =>
      val ev = graft.Tables.load(s, dir, "events")
      e.writeBatch(searchDocRows(
        ev.filter(pmod(col("event_id"), lit(2L)) === 0L), lit("doc")),
        "b-seed1")
      e.buildSearchIndex()
      e.writeBatch(searchDocRows(
        ev.filter(pmod(col("event_id"), lit(2L)) === 1L), lit("doc")),
        "b-seed2")
      e.refreshSearchIndex()
    }

  /** The merged-search artifact (q_search_merge): per-event doc cells
    * (d<event_id> — the merge feed needs unique keys), index built,
    * then a deterministic U/D correction feed through mergeBatch, whose
    * store catch-up refreshes the search store. */
  private def searchMergedEngine(s: org.apache.spark.sql.SparkSession,
      dir: String): Engine =
    engineArtifact(s, dir, "graft_search_merge_wh6") { e =>
      val ev = graft.Tables.load(s, dir, "events")
      e.writeBatch(searchDocRows(ev,
        concat(lit("d"), col("event_id"))), "b-seed")
      e.buildSearchIndex()
      val r10 = pmod(col("event_id"), lit(10L))
      // the U re-text leads with an UPPERCASE GREEK token ("Ψ9"): both
      // engines must lowercase it and split it out through the SHARED
      // tokenizer definition (Spark searchTokens here, the DuckDB
      // searchTokensSql twin in the oracle) — dl/n_docs/sum_dl feel
      // any divergence, so the Java-regex-vs-RE2 \p{L} agreement is
      // ORACLE-GATED, not just spec prose
      val feed = ev
        .filter(col("ts") < lit("2024-01-08").cast("timestamp") &&
          r10.isin(4L, 6L))
        .select(
          when(r10 === 6L, lit("D")).otherwise(lit("U")).as("op"),
          col("event_type").as("series"),
          concat(lit("d"), col("event_id")).as("name"),
          col("ts").as("time"),
          lit(null).cast("double").as("value"),
          lit(null).cast("long").as("value_long"),
          when(r10 === 4L, concat(lit("Ψ9 w"),
            pmod(col("user_id"), lit(7L)))).otherwise(lit(null)
            .cast("string")).as("value_str"),
          lit(null).cast("boolean").as("value_bool"),
          map().cast("map<string,string>").as("tags"))
      e.mergeBatch(feed)
      ()
    }

  /** The time-travel artifact (q_time_travel): the corpus in two write
    * batches (even / odd event_ids), one deterministic U/D merge
    * (first-week rows: ≡2 mod 10 update +5.55, ≡5 delete), then a
    * RETENTION-AWARE vacuum — three reconstructable versions. */
  private def timeTravelEngine(s: org.apache.spark.sql.SparkSession,
      dir: String): Engine =
    engineArtifact(s, dir, "graft_timetravel_wh1") { e =>
      val ev = graft.Tables.load(s, dir, "events")
      def rows(half: org.apache.spark.sql.DataFrame) = half.select(
        col("event_type").as("series"),
        expr("uuid()").as("id"),
        col("ts").as("time"),
        current_timestamp().as("created_at"),
        concat(lit("m"), col("event_id")).as("name"),
        col("value"),
        lit(null).cast("long").as("value_long"),
        lit(null).cast("string").as("value_str"),
        lit(null).cast("boolean").as("value_bool"),
        map().cast("map<string,string>").as("tags"))
      e.writeBatch(rows(ev.filter(pmod(col("event_id"), lit(2L)) === 0L)),
        "b1")
      e.writeBatch(rows(ev.filter(pmod(col("event_id"), lit(2L)) === 1L)),
        "b2")
      val r10 = pmod(col("event_id"), lit(10L))
      e.mergeBatch(ev
        .filter(col("ts") < lit("2024-01-08").cast("timestamp") &&
          r10.isin(2L, 5L))
        .select(
          when(r10 === 5L, lit("D")).otherwise(lit("U")).as("op"),
          col("event_type").as("series"),
          concat(lit("m"), col("event_id")).as("name"),
          col("ts").as("time"),
          (col("value") + 5.55).as("value"),
          lit(null).cast("long").as("value_long"),
          lit(null).cast("string").as("value_str"),
          lit(null).cast("boolean").as("value_bool"),
          map().cast("map<string,string>").as("tags")))
      // snapshot-retaining GC: keeps the merge-retired leaves every
      // still-listed version references (tableAt below depends on it)
      e.vacuum(keepVersions = 8)
      ()
    }

  /** The merged-warehouse artifact: seed from events, merge the
    * deterministic feed, reuse per (dir, mtime). wh2: merge
    * manifest/reconcile layout changed in round 15. */
  private def mergedEngine(s: org.apache.spark.sql.SparkSession,
      dir: String): Engine =
    engineArtifact(s, dir, "graft_merge_wh2") { seedEngine =>
      val ev = graft.Tables.load(s, dir, "events")
      seedEngine.writeBatch(ev.select(
        col("event_type").as("series"),
        expr("uuid()").as("id"),
        col("ts").as("time"),
        current_timestamp().as("created_at"),
        concat(lit("m"), col("event_id")).as("name"),
        col("value"),
        lit(null).cast("long").as("value_long"),
        lit(null).cast("string").as("value_str"),
        lit(null).cast("boolean").as("value_bool"),
        map(lit("u"), col("user_id").cast("string")).as("tags")),
        "b-seed")
      val r10 = pmod(col("event_id"), lit(10L))
      val feed = ev
        .filter(col("ts") < lit("2024-01-08").cast("timestamp") &&
          r10.isin(1L, 3L, 7L))
        .select(
          when(r10 === 7L, lit("D")).otherwise(lit("U")).as("op"),
          col("event_type").as("series"),
          when(r10 === 1L, concat(lit("m"), col("event_id"), lit("x")))
            .otherwise(concat(lit("m"), col("event_id"))).as("name"),
          col("ts").as("time"),
          when(r10 === 1L, col("value") + 1.11)
            .otherwise(col("value") + 7.77).as("value"),
          lit(null).cast("long").as("value_long"),
          lit(null).cast("string").as("value_str"),
          lit(null).cast("boolean").as("value_bool"),
          when(r10 === 3L, map(lit("adj"), lit("y")))
            .otherwise(map().cast("map<string,string>")).as("tags"))
      seedEngine.mergeBatch(feed)
      ()
    }

  private val typedSql =
    """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) * 1000 AS tns,
        |         'h ' || CAST(user_id % 10 AS VARCHAR) AS host
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 'meter' AS series, 'cnt' AS name, NULL::DOUBLE AS value,
        |         CAST(event_id AS BIGINT) AS value_long,
        |         NULL::VARCHAR AS value_str, NULL::BOOLEAN AS value_bool,
        |         tns AS time_ns, host
        |  FROM e
        |  UNION ALL
        |  SELECT 'meter', 'ratio', value, NULL, NULL, NULL, tns, host FROM e
        |  UNION ALL
        |  SELECT 'meter', 'label', NULL, NULL, event_type, NULL, tns, host FROM e
        |  UNION ALL
        |  SELECT 'meter', 'ok', NULL, NULL, NULL, event_id % 2 = 0, tns, host FROM e)
        |ORDER BY time_ns, name, value_long, value, value_str, value_bool, host""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_ingest_typed" -> typedSql,
    // identical expected rows — the generator must match the typed
    // mapPartitions ingest path exactly
    "q_ingest_generator" -> typedSql,

    // BM25 recomputed directly from events with the EXACT bm25Micro
    // operand order (the bm25HitsSql contrib expression verbatim) —
    // the engine's persisted-postings serving path must land exactly
    // this top-20
    "q_search_engine" ->
      """WITH d AS (
        |  SELECT event_type AS series, 'doc' AS name,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
        |         ['w' || CAST(event_id % 5 AS VARCHAR),
        |          'w' || CAST(user_id % 7 AS VARCHAR),
        |          'w' || CAST(event_id % 3 AS VARCHAR)] AS w
        |  FROM events),
        |tok AS (SELECT series, name, t_us, unnest(w) AS tk FROM d),
        |tf AS (SELECT series, name, t_us, tk,
        |         CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2, 3, 4),
        |dl AS (SELECT series, name, t_us, CAST(count(*) AS BIGINT) AS dl
        |       FROM tok GROUP BY 1, 2, 3),
        |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        |dfx AS (SELECT tk, CAST(count(*) AS BIGINT) AS df FROM tf
        |        WHERE tk IN ('w1', 'w2') GROUP BY tk),
        |contrib AS (
        |  SELECT f.series, f.name, f.t_us,
        |    CAST(floor(
        |      ln((CAST(c.n_docs AS DOUBLE) - CAST(x.df AS DOUBLE) + 0.5)
        |         / (CAST(x.df AS DOUBLE) + 0.5) + 1.0) *
        |      ((CAST(f.tf AS DOUBLE) * 2.2) /
        |       (CAST(f.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        ((CAST(l.dl AS DOUBLE) * CAST(c.n_docs AS DOUBLE))
        |         / CAST(c.sum_dl AS DOUBLE)))))
        |      * 1000000.0 + 0.5) AS BIGINT) AS c_micro
        |  FROM tf f JOIN dfx x ON x.tk = f.tk
        |  JOIN dl l ON l.series = f.series AND l.name = f.name
        |           AND l.t_us = f.t_us
        |  CROSS JOIN corp c)
        |SELECT series, name, t_us,
        |  CAST(count(*) AS BIGINT) AS n_terms_hit,
        |  CAST(sum(c_micro) AS BIGINT) AS score_micro
        |FROM contrib GROUP BY 1, 2, 3
        |ORDER BY score_micro DESC, series, name, t_us
        |LIMIT 20""".stripMargin,

    // the MERGED STATE computed directly: same key (series, m<id>, ts),
    // same feed synthesis, same WHEN MATCHED/NOT MATCHED semantics as
    // one full-outer join — the engine's partition-rewrite path must
    // land exactly these rows
    "q_merge_engine" ->
      """WITH base AS (
        |  SELECT event_type AS series,
        |         'm' || CAST(event_id AS VARCHAR) AS name, ts, value,
        |         CAST(NULL AS VARCHAR) AS adj
        |  FROM events),
        |feed AS (
        |  SELECT CASE WHEN event_id % 10 = 7 THEN 'D' ELSE 'U' END AS op,
        |         event_type AS series,
        |         CASE WHEN event_id % 10 = 1
        |              THEN 'm' || CAST(event_id AS VARCHAR) || 'x'
        |              ELSE 'm' || CAST(event_id AS VARCHAR) END AS name,
        |         ts,
        |         CASE WHEN event_id % 10 = 1 THEN value + 1.11
        |              ELSE value + 7.77 END AS value,
        |         CASE WHEN event_id % 10 = 3 THEN 'y' END AS adj
        |  FROM events
        |  WHERE ts < TIMESTAMP '2024-01-08' AND event_id % 10 IN (1, 3, 7)),
        |m AS (
        |  SELECT coalesce(b.series, f.series) AS series,
        |         coalesce(b.name, f.name) AS name,
        |         CASE WHEN f.op IS NOT NULL THEN f.value
        |              ELSE b.value END AS value,
        |         CASE WHEN f.op IS NOT NULL THEN f.adj
        |              ELSE b.adj END AS adj
        |  FROM base b FULL OUTER JOIN feed f
        |    ON b.series = f.series AND b.name = f.name AND b.ts = f.ts
        |  WHERE f.op IS NULL OR f.op <> 'D')
        |SELECT series, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CASE WHEN adj = 'y' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_adjusted,
        |  CAST(sum(CASE WHEN name LIKE '%x' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inserted
        |FROM m GROUP BY 1 ORDER BY series""".stripMargin,

    // refresh ≡ rebuild: the oracle recomputes BM25 over the WHOLE
    // corpus — the engine built half the index from scratch and FOLDED
    // the other half in incrementally, so a pass here certifies the
    // store-plus-delta path end-to-end (incl. tf additivity for doc
    // cells spanning the two batches)
    "q_search_refresh" ->
      """WITH d AS (
        |  SELECT event_type AS series, 'doc' AS name,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
        |         ['w' || CAST(event_id % 5 AS VARCHAR),
        |          'w' || CAST(user_id % 7 AS VARCHAR),
        |          'w' || CAST(event_id % 3 AS VARCHAR)] AS w
        |  FROM events),
        |tok AS (SELECT series, name, t_us, unnest(w) AS tk FROM d),
        |tf AS (SELECT series, name, t_us, tk,
        |         CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2, 3, 4),
        |dl AS (SELECT series, name, t_us, CAST(count(*) AS BIGINT) AS dl
        |       FROM tok GROUP BY 1, 2, 3),
        |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        |dfx AS (SELECT tk, CAST(count(*) AS BIGINT) AS df FROM tf
        |        WHERE tk IN ('w2', 'w3') GROUP BY tk),
        |contrib AS (
        |  SELECT f.series, f.name, f.t_us,
        |    CAST(floor(
        |      ln((CAST(c.n_docs AS DOUBLE) - CAST(x.df AS DOUBLE) + 0.5)
        |         / (CAST(x.df AS DOUBLE) + 0.5) + 1.0) *
        |      ((CAST(f.tf AS DOUBLE) * 2.2) /
        |       (CAST(f.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        ((CAST(l.dl AS DOUBLE) * CAST(c.n_docs AS DOUBLE))
        |         / CAST(c.sum_dl AS DOUBLE)))))
        |      * 1000000.0 + 0.5) AS BIGINT) AS c_micro
        |  FROM tf f JOIN dfx x ON x.tk = f.tk
        |  JOIN dl l ON l.series = f.series AND l.name = f.name
        |           AND l.t_us = f.t_us
        |  CROSS JOIN corp c)
        |SELECT series, name, t_us,
        |  CAST(count(*) AS BIGINT) AS n_terms_hit,
        |  CAST(sum(c_micro) AS BIGINT) AS score_micro
        |FROM contrib GROUP BY 1, 2, 3
        |ORDER BY score_micro DESC, series, name, t_us
        |LIMIT 20""".stripMargin,

    // the POST-MERGE document set computed directly (first-week docs
    // with id≡6 deleted, id≡4 re-texted to 'Ψ9 w<uid%7>'), tokenized
    // through the searchTokensSql TWIN of the shared Unicode tokenizer
    // (lower + \p{L}\p{Nd} split — so Java-regex-vs-RE2 agreement on a
    // non-ASCII token is part of the gate), then the same BM25 — the
    // engine's merge-reconciled search store must land exactly this
    // top-20 (deleted docs stop ranking, updated docs rank under their
    // new text)
    "q_search_merge" ->
      s"""WITH d0 AS (
        |  SELECT event_type AS series,
        |         'd' || CAST(event_id AS VARCHAR) AS name,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
        |         CASE
        |           WHEN ts < TIMESTAMP '2024-01-08' AND event_id % 10 = 6
        |           THEN NULL
        |           WHEN ts < TIMESTAMP '2024-01-08' AND event_id % 10 = 4
        |           THEN 'Ψ9 w' || CAST(user_id % 7 AS VARCHAR)
        |           ELSE 'w' || CAST(event_id % 5 AS VARCHAR) || ' w' ||
        |                CAST(user_id % 7 AS VARCHAR) || ' w' ||
        |                CAST(event_id % 3 AS VARCHAR) END AS text
        |  FROM events),
        |d AS (
        |  SELECT series, name, t_us,
        |    ${graft.queries.TextQueries.searchTokensSql("text")} AS w
        |  FROM d0 WHERE text IS NOT NULL),
        |tok AS (SELECT series, name, t_us, unnest(w) AS tk FROM d),
        |tf AS (SELECT series, name, t_us, tk,
        |         CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2, 3, 4),
        |dl AS (SELECT series, name, t_us, CAST(count(*) AS BIGINT) AS dl
        |       FROM tok GROUP BY 1, 2, 3),
        |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        |dfx AS (SELECT tk, CAST(count(*) AS BIGINT) AS df FROM tf
        |        WHERE tk IN ('w1', 'w2') GROUP BY tk),
        |contrib AS (
        |  SELECT f.series, f.name, f.t_us,
        |    CAST(floor(
        |      ln((CAST(c.n_docs AS DOUBLE) - CAST(x.df AS DOUBLE) + 0.5)
        |         / (CAST(x.df AS DOUBLE) + 0.5) + 1.0) *
        |      ((CAST(f.tf AS DOUBLE) * 2.2) /
        |       (CAST(f.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        ((CAST(l.dl AS DOUBLE) * CAST(c.n_docs AS DOUBLE))
        |         / CAST(c.sum_dl AS DOUBLE)))))
        |      * 1000000.0 + 0.5) AS BIGINT) AS c_micro
        |  FROM tf f JOIN dfx x ON x.tk = f.tk
        |  JOIN dl l ON l.series = f.series AND l.name = f.name
        |           AND l.t_us = f.t_us
        |  CROSS JOIN corp c)
        |SELECT series, name, t_us,
        |  CAST(count(*) AS BIGINT) AS n_terms_hit,
        |  CAST(sum(c_micro) AS BIGINT) AS score_micro
        |FROM contrib GROUP BY 1, 2, 3
        |ORDER BY score_micro DESC, series, name, t_us
        |LIMIT 20""".stripMargin,

    // scoped search: GLOBAL corpus statistics (df/dl/n_docs/sum_dl over
    // every doc), candidates RESTRICTED to (series='click', Jan 8–21) —
    // exactly the engine's filter-after-prune semantics
    "q_search_scoped" ->
      """WITH d AS (
        |  SELECT event_type AS series, 'doc' AS name,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
        |         ['w' || CAST(event_id % 5 AS VARCHAR),
        |          'w' || CAST(user_id % 7 AS VARCHAR),
        |          'w' || CAST(event_id % 3 AS VARCHAR)] AS w
        |  FROM events),
        |tok AS (SELECT series, name, t_us, unnest(w) AS tk FROM d),
        |tf AS (SELECT series, name, t_us, tk,
        |         CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2, 3, 4),
        |dl AS (SELECT series, name, t_us, CAST(count(*) AS BIGINT) AS dl
        |       FROM tok GROUP BY 1, 2, 3),
        |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        |dfx AS (SELECT tk, CAST(count(*) AS BIGINT) AS df FROM tf
        |        WHERE tk IN ('w1', 'w2') GROUP BY tk),
        |contrib AS (
        |  SELECT f.series, f.name, f.t_us,
        |    CAST(floor(
        |      ln((CAST(c.n_docs AS DOUBLE) - CAST(x.df AS DOUBLE) + 0.5)
        |         / (CAST(x.df AS DOUBLE) + 0.5) + 1.0) *
        |      ((CAST(f.tf AS DOUBLE) * 2.2) /
        |       (CAST(f.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        ((CAST(l.dl AS DOUBLE) * CAST(c.n_docs AS DOUBLE))
        |         / CAST(c.sum_dl AS DOUBLE)))))
        |      * 1000000.0 + 0.5) AS BIGINT) AS c_micro
        |  FROM tf f JOIN dfx x ON x.tk = f.tk
        |  JOIN dl l ON l.series = f.series AND l.name = f.name
        |           AND l.t_us = f.t_us
        |  CROSS JOIN corp c
        |  WHERE f.series = 'click'
        |    AND f.t_us >= 1704672000000000
        |    AND f.t_us <= 1705881599999999)
        |SELECT series, name, t_us,
        |  CAST(count(*) AS BIGINT) AS n_terms_hit,
        |  CAST(sum(c_micro) AS BIGINT) AS score_micro
        |FROM contrib GROUP BY 1, 2, 3
        |ORDER BY score_micro DESC, series, name, t_us
        |LIMIT 20""".stripMargin,

    // the three committed states recomputed directly: b1 = even
    // event_ids, b1b2 = the whole corpus, merged = U (+5.55 on ≡2 mod
    // 10, first week) / D (≡5, first week) applied — the engine side
    // must reconstruct the first two AS OF retired versions
    "q_time_travel" ->
      """WITH st AS (
        |  SELECT 'b1' AS snapshot, event_type AS series, value
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT 'b1b2', event_type, value FROM events
        |  UNION ALL
        |  SELECT 'merged', event_type,
        |         CASE WHEN ts < TIMESTAMP '2024-01-08'
        |                   AND event_id % 10 = 2
        |              THEN value + 5.55 ELSE value END
        |  FROM events
        |  WHERE NOT (ts < TIMESTAMP '2024-01-08' AND event_id % 10 = 5))
        |SELECT snapshot, series, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM st GROUP BY snapshot, series
        |ORDER BY snapshot, series""".stripMargin,

    // the recovered change feed per row class: the merge deleted ≡5
    // (delta = -cents), re-valued ≡2 (delta = cents(v+5.55) −
    // cents(v)), left the rest unchanged (delta 0) — first week only
    "q_version_diff" ->
      """WITH d AS (
        |  SELECT event_type AS series,
        |    CASE WHEN ts < TIMESTAMP '2024-01-08' AND event_id % 10 = 5
        |         THEN 'deleted'
        |         WHEN ts < TIMESTAMP '2024-01-08' AND event_id % 10 = 2
        |         THEN 'changed'
        |         ELSE 'unchanged' END AS change,
        |    CASE WHEN ts < TIMESTAMP '2024-01-08' AND event_id % 10 = 5
        |         THEN -CAST(round(value * 100) AS BIGINT)
        |         WHEN ts < TIMESTAMP '2024-01-08' AND event_id % 10 = 2
        |         THEN CAST(round((value + 5.55) * 100) AS BIGINT)
        |              - CAST(round(value * 100) AS BIGINT)
        |         ELSE 0 END AS delta
        |  FROM events)
        |SELECT series, change, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(delta) AS BIGINT) AS cents_delta
        |FROM d GROUP BY series, change
        |ORDER BY series, change""".stripMargin
  )
}
