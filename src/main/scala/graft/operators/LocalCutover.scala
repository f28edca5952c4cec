package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row}

/** The ONE size policy behind every driver-local and broadcast cutover.
  *
  * Every operator is built for 100 TB, so each iterative loop and each
  * membership join keeps a distributed form. Small inputs skip it:
  *
  *  - DRIVER-LOCAL loops (the graph family in JoinQueries, the
  *    ConnectedComponents label propagation, Bpe training). Their
  *    per-round state is node- (or vocabulary-) domain sized and is
  *    broadcast into map-side joins every round anyway; the only
  *    data-sized input is the edge list (histogram), already
  *    materialized by an eager checkpoint. Under the bound the
  *    driver-coordinated rounds are pure fixed job overhead (1-3 job
  *    round-trips plus a micro-stage each), so the local twin
  *    (queries.GraphLocal, Bpe.trainLocal) runs the IDENTICAL algorithm
  *    on the collected input. Past the bound the distributed loops
  *    stand unchanged. GraphLocalSpec and BpeSpec pin local ==
  *    distributed per site.
  *  - BROADCAST joins over an edge-sized relation (q_triangle_count's
  *    closing join, q_link_predict's existing-edge anti join): under
  *    the bound the relation ships to every executor; past it the
  *    site's shuffle (or Bloom + shuffle) form runs.
  *
  * Bounds are sized against the real JVM footprint, not the raw
  * payload (the r16/r17 advice):
  *  - [[GraphMaxEdges]]: a collected edge is a boxed (Long, Long)
  *    tuple, ~60 B of objects, so 2M edges ≈ 120 MB transient (a peel
  *    round's filter copy doubles that worst case). At sf0.1 the
  *    co-order graph is 1.196M edges (inside) and the support-2
  *    backbone 7.1k rows; a 10× replica exceeds it.
  *  - [[BpeMaxVocab]] / [[BpeMaxSyms]]: the collected histogram costs
  *    ~50 B per single-character boxed String, so a word-count bound
  *    alone under-estimates long-word vocabularies; both must hold
  *    (≤1M words AND ≤8M symbols, ~400 MB boxed worst case).
  *  - [[BroadcastMaxEdges]]: a BroadcastHashJoin relation of two longs
  *    costs ~40-60 B/row plus a driver copy — ~250-300 MB at 5M.
  *
  * The bounds are constants: the only settable value is the
  * `graft.forceDistributed` system property, read at every decision.
  * When "true" every site takes its distributed / non-broadcast path
  * whatever the size, so the sf0.01 oracle and the specs certify both
  * regimes with one flag.
  */
private[graft] object LocalCutover {

  final val GraphMaxEdges = 2000000L
  final val BpeMaxVocab = 1000000L
  final val BpeMaxSyms = 8000000L
  final val BroadcastMaxEdges = 5000000L

  final val ForceDistributed = "graft.forceDistributed"

  /** `n` is within `bound` and the switch is off; the switch is read
    * first, so a forced decision never evaluates `n`. */
  private def fits(n: => Long, bound: Long): Boolean =
    !sys.props.get(ForceDistributed).exists(_.toBoolean) && n <= bound

  /** Broadcast an edge-sized relation of `n` rows? */
  def broadcastEdges(n: => Long): Boolean = fits(n, BroadcastMaxEdges)

  /** Train BPE on the driver from a histogram of this shape? */
  def bpeLocal(nWords: Long, nSyms: Long): Boolean =
    fits(nWords, BpeMaxVocab) && fits(nSyms, BpeMaxSyms)

  /** The checkpointed edge frame `df` collected through `row`, or None
    * when it is past [[GraphMaxEdges]] (or the switch is on) and the
    * caller must run its distributed loop. `df` must be checkpointed:
    * the count reads its materialized blocks. */
  def edges[A: ClassTag](df: DataFrame)(row: Row => A): Option[Array[A]] =
    Option.when(fits(df.count(), GraphMaxEdges))(df.collect().map(row))

  /** [[edges]] for the common two-long (u, v) frame. */
  def pairs(df: DataFrame): Option[Array[(Long, Long)]] =
    edges(df)(r => (r.getLong(0), r.getLong(1)))
}
