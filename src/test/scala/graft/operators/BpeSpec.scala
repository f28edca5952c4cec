package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec

/** Distributed BPE training/encoding semantics, hand-verified: merge
  * order by weighted pair count, deterministic tie-breaks, greedy
  * leftmost application, encode==train fixpoint, early stop, and the
  * vocabulary-sized-histogram scale property on the fixture corpus. */
class BpeSpec extends SparkSpec {

  import spark.implicits._

  test("merges are learned by weighted pair frequency, hand-checked") {
    // hist: {ab: 3, ac: 1} → round 1 pairs (a,b)=3 > (a,c)=1.
    // After merging (a,b), only (a,c)=1 remains — below minCount → stop.
    val docs = Seq("ab ab ac", "ab").toDF("text")
    val m = Bpe.train(docs, "text", numMerges = 10)
    assert(m == Seq(Bpe.Merge(0, "a", "b", 3)))
  }

  test("argmax ties break lexicographically — deterministic merge table") {
    val docs = Seq("ab cd", "ab cd").toDF("text")
    val m = Bpe.train(docs, "text", numMerges = 2)
    // (a,b)=2 and (c,d)=2 tie → (a,b) first
    assert(m.map(x => (x.left, x.right)) == Seq(("a", "b"), ("c", "d")))
  }

  test("greedy leftmost application inside repeated runs") {
    // "aaa"×2: pairs (a,a) weighted 4 → merge; greedy leftmost leaves
    // [aa, a]; round 2 fuses (aa, a) → [aaa]
    val docs = Seq("aaa aaa").toDF("text")
    val m = Bpe.train(docs, "text", numMerges = 10)
    assert(m.map(x => (x.left, x.right)) == Seq(("a", "a"), ("aa", "a")))
    assert(Bpe.encodeWord("aaa",
      m.map(x => (x.left, x.right) -> x.rank).toMap) == Seq("aaa"))
  }

  test("encode applies learned merges and leaves unknown chars intact") {
    val docs = Seq("ab ab ab ab").toDF("text")
    val m = Bpe.train(docs, "text", numMerges = 5)
    val ranks = m.map(x => (x.left, x.right) -> x.rank).toMap
    assert(Bpe.encodeWord("ab", ranks) == Seq("ab"))
    assert(Bpe.encodeWord("abc", ranks) == Seq("ab", "c"))
    assert(Bpe.encodeWord("cab", ranks) == Seq("c", "ab"))
    assert(Bpe.encodeWord("xyz", ranks) == Seq("x", "y", "z"))
  }

  test("driver-local training equals the distributed loop (r16 cutover)") {
    // the sf0.001 corpus vocabulary is under the local cutover, so
    // train() takes the driver path; run the distributed loop explicitly
    // on the same histogram, and train() again under LocalCutover's
    // force switch, and pin byte-identical merge tables
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sc = spark.sparkContext
    def inGroup[A](g: String)(f: => A): A = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val local = inGroup("bpe-local")(Bpe.train(docs, "text", numMerges = 24))
    val raw = Bpe.wordHistogram(docs, "text").cache()
    val dist = Bpe.trainDistributed(raw, raw.count(), 24, 2L)
    assert(local == dist, "local and distributed BPE training must agree")
    sys.props(LocalCutover.ForceDistributed) = "true"
    val forced = try inGroup("bpe-forced") {
      Bpe.train(docs, "text", numMerges = 24)
    } finally sys.props -= LocalCutover.ForceDistributed
    assert(local == forced, "train() under the force switch must agree")
    // the switch really reached BPE: the distributed loop pays at least
    // one job per merge round, the driver-local path a couple in all
    // (job events arrive asynchronously — late ones only lower a count)
    val jobs = (g: String) => sc.statusTracker.getJobIdsForGroup(g).length
    assert(jobs("bpe-local") < 24, s"local path ran ${jobs("bpe-local")} jobs")
    eventually(timeout(Span(10, Seconds))) {
      assert(jobs("bpe-forced") >= 24,
        s"forced path ran only ${jobs("bpe-forced")} jobs")
    }
  }

  test("tokens() is map-only and shrinks token counts vs characters") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val merges = Bpe.train(docs, "text", numMerges = 40)
    assert(merges.size == 40, "fixture corpus supports 40 merges")
    // training twice is byte-identical (determinism across runs)
    assert(Bpe.train(docs, "text", numMerges = 40) == merges)
    val toked = Bpe.tokens(docs, "text", merges)
    val r = toked.agg(
      sum(col("n_tokens")).as("nt"),
      sum(length(regexp_replace(col("text"), "\\s+", ""))).as("nc"))
      .head()
    assert(r.getLong(0) < r.getLong(1),
      "BPE tokens strictly compress vs character count")
    // encoding round-trips: concatenated tokens rebuild each word
    val bad = toked.select(col("text"), col("tokens"))
      .filter(concat_ws("", col("tokens")) =!=
        regexp_replace(col("text"), "\\s+", ""))
      .count()
    assert(bad == 0, "token concatenation reconstructs the text")
    // the encode stage plans no shuffle: one projection over the scan
    val plan = toked.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"map-only encode, got:\n$plan")
  }
}
