package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer training and encoding
  * (Sennrich et al. 2016) — the real merge-learning algorithm, not the
  * regex approximation (`q_text_tokens` keeps that as the cheap oracle-
  * checked form).
  *
  * Scale design (the reason industrial BPE trainers distribute at all):
  * training never touches the corpus again after ONE word-count pass —
  * the corpus compresses to its word HISTOGRAM (vocabulary-sized:
  * bounded by distinct words, independent of corpus rows; at 100 TB
  * this is the difference between iterating over ~10^11 documents and
  * ~10^6 histogram rows). Each merge round is then one pair-count
  * aggregate over the cached histogram (pairs derived per row by a
  * codegen'd `transform` lambda — no explode of the corpus), a
  * driver-sized argmax (ONE row collected per round), and a map-only
  * merge application. Lineage is cut with localCheckpoint every few
  * rounds (the ConnectedComponents pattern) so hundreds of rounds do
  * not accumulate a plan tower.
  *
  * Determinism: the argmax tie-breaks on (count DESC, left ASC,
  * right ASC) — byte-identical merge tables across runs and cluster
  * layouts (sum-of-longs is order-free).
  */
object Bpe {

  /** One learned merge: `left`+`right` fuse into one symbol at `rank`;
    * `cnt` is the weighted pair count that won the argmax (recorded so
    * invariant gates — q_bpe_invariants' monotonicity check — audit the
    * table without replaying training). */
  case class Merge(rank: Int, left: String, right: String, cnt: Long)

  /** Greedy left-to-right single-pair application (the BPE primitive):
    * every non-overlapping (l, r) adjacency fuses, leftmost first. */
  private[operators] def applyMerge(syms: IndexedSeq[String], l: String,
      r: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** The corpus's word histogram as (syms ARRAY<STRING>, cnt BIGINT) —
    * each distinct whitespace word once, split to single-character
    * symbols, weighted by its corpus frequency. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("syms"),
        col("cnt"))

  /** Learn up to `numMerges` merges. Stops early when no adjacent pair
    * occurs at least `minCount` times (default 2 — merging a singleton
    * pair cannot compress anything). Dispatches to driver-local training
    * when the word histogram is driver-sized ([[LocalCutover.bpeLocal]];
    * r16: the 24-round distributed loop was ~3.4 s of per-round collect
    * round-trips over a 31-row sf0.1 histogram, local ≈ ms); both paths
    * compute the IDENTICAL merge table (BpeSpec pins local ==
    * distributed on a fixture): same pair weights (exact long
    * sums), same (count DESC, left ASC, right ASC) argmax with the tie
    * compared on UTF-8 BYTES (Spark's UTF8String binary order — a JVM
    * String.compareTo would disagree on supplementary-plane symbols). */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L): Seq[Merge] = {
    val raw = wordHistogram(docs, textCol).cache()
    try trainOnHistogram(raw, numMerges, minCount)
    finally raw.unpersist() // no-op if the distributed path already did
  }

  /** Train from a pre-built [[wordHistogram]] frame — lets a caller that
    * also inspects the histogram (q_bpe_invariants' cross-checks) share
    * ONE corpus aggregation with training. Takes ownership of `raw`'s
    * cache on the distributed path (it is unpersisted after re-packing);
    * the local path leaves the caller's cache alone. */
  def trainOnHistogram(raw: DataFrame, numMerges: Int,
      minCount: Long = 2L): Seq[Merge] = {
    // ONE job materializes the cache and reads BOTH cutover scalars
    // (row count + total symbol count)
    val st = raw.agg(count(lit(1)),
      coalesce(sum(size(col("syms"))), lit(0L))).head()
    val (nWords, nSyms) = (st.getLong(0), st.getLong(1))
    if (LocalCutover.bpeLocal(nWords, nSyms)) {
      val hist = raw.collect().map { r =>
        (r.getSeq[String](0).toIndexedSeq, r.getLong(1))
      }
      trainLocal(hist, numMerges, minCount)
    } else trainDistributed(raw, nWords, numMerges, minCount)
  }

  /** UTF-8 byte order on strings — the order Spark's ORDER BY uses. */
  private def u8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-local merge loop over the collected histogram — the exact
    * argmax/apply semantics of the distributed loop on driver-sized
    * vocabularies. */
  private[operators] def trainLocal(hist0: Array[(IndexedSeq[String], Long)],
      numMerges: Int, minCount: Long): Seq[Merge] = {
    var hist = hist0
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    var done = false
    var round = 0
    while (!done && round < numMerges) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      hist.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + cnt
          i += 1
        }
      }
      val top = counts.reduceOption { (p, q) =>
        if (p._2 != q._2) { if (p._2 > q._2) p else q }
        else if (u8Lt(p._1._1, q._1._1)) p
        else if (u8Lt(q._1._1, p._1._1)) q
        else if (u8Lt(p._1._2, q._1._2)) p else q
      }
      top match {
        case Some(((l, r), c)) if c >= minCount =>
          merges += Merge(round, l, r, c)
          hist = hist.map { case (syms, cnt) =>
            (applyMerge(syms, l, r), cnt)
          }
          round += 1
        case _ => done = true
      }
    }
    merges.toSeq
  }

  /** The distributed merge loop (vocabularies past the cutover).
    * Takes ownership of the cached histogram. */
  private[operators] def trainDistributed(raw: DataFrame, nWords: Long,
      numMerges: Int, minCount: Long): Seq[Merge] = {
    // the histogram is vocabulary-bounded, but it comes out of the
    // corpus agg at CORPUS parallelism — dozens of near-empty partitions
    // whose fixed task cost is then paid EVERY merge round (the round-10
    // BENCH read: 24 rounds x 32-partition shuffles = 5.9 s on a 31-row
    // histogram). Re-pack it to histogram-sized parallelism once
    // (~1M rows/partition) so each round's pair-count agg and merge
    // application run a handful of tasks; at a 100 TB corpus the
    // vocabulary is ~10^6-10^7 rows, so this stays a few partitions.
    val parts = math.max(1, math.ceil(nWords / 1e6).toInt)
    var hist = raw.coalesce(parts).cache()
    hist.count()
    raw.unpersist()
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    var done = false
    var round = 0
    // the parent histogram stays cached for ONE extra round: the next
    // round's pair-count job materializes the child's cache (it reads
    // through it), after which the parent can go — this halves the jobs
    // per round vs an explicit count() materialization (round-10 BENCH:
    // 24 rounds were 2 jobs each, ~90 ms fixed cost per job)
    var retired: Option[DataFrame] = None
    while (!done && round < numMerges) {
      // adjacent symbol pairs per histogram row, weighted by word count:
      // a codegen'd lambda over the syms array (try_element_at is
      // 1-based and null past the end — ANSI-safe — so the last
      // position's missing partner just filters out)
      val top = hist.select(col("cnt"), explode(expr(
          "filter(transform(syms, (s, i) -> " +
            "struct(s AS l, try_element_at(syms, i + 2) AS r)), " +
            "p -> p.r IS NOT NULL)")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(desc("c"), asc("l"), asc("r"))
        .limit(1).collect()
      // this round's job has materialized hist's cache — its parent is
      // no longer an input to anything
      retired.foreach(_.unpersist())
      retired = None
      top.headOption match {
        case Some(Row(l: String, r: String, c: Long)) if c >= minCount =>
          merges += Merge(round, l, r, c)
          val mergeUdf = udf((syms: Seq[String]) =>
            applyMerge(syms.toIndexedSeq, l, r))
          val prev = hist
          hist = hist.select(mergeUdf(col("syms")).as("syms"), col("cnt"))
          // cut lineage every few rounds or the plan tower grows
          // O(rounds); localCheckpoint is eager, so prev retires now
          if ((round + 1) % 8 == 0) {
            hist = hist.localCheckpoint().cache()
            prev.unpersist()
          } else {
            hist = hist.cache()
            retired = Some(prev)
          }
          round += 1
        case _ => done = true
      }
    }
    retired.foreach(_.unpersist())
    hist.unpersist()
    merges.toSeq
  }

  /** Encode one word with a learned merge table: repeatedly fuse the
    * LOWEST-rank adjacent pair present — for a table produced by
    * [[train]] this reaches the same fixpoint as replaying the merges
    * in rank order (the canonical BPE inference rule). */
  def encodeWord(word: String,
      ranks: Map[(String, String), Int]): Seq[String] = {
    var syms: IndexedSeq[String] = word.map(_.toString).toIndexedSeq
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bl = ""; var br = ""
      var i = 0
      while (i < syms.length - 1) {
        val rk = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (rk < bestRank) { bestRank = rk; bl = syms(i); br = syms(i + 1) }
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        syms = applyMerge(syms, bl, br)
        done = syms.length < 2
      }
    }
    syms
  }

  /** Tokenize a text column: adds `tokens ARRAY<STRING>` and `n_tokens`.
    * The merge table ships in the UDF closure (model-sized — exactly the
    * broadcast-small-side shape of the vocab/LM/idf text operators);
    * encoding is map-only, zero shuffle at any corpus size. */
  def tokens(docs: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val enc = udf((text: String) =>
      text.split("\\s+").filter(_.nonEmpty).toSeq
        .flatMap(w => encodeWord(w, ranks)))
    docs.withColumn("tokens", enc(col(textCol)))
      .withColumn("n_tokens", size(col("tokens")))
  }
}
