package graft.queries

import scala.collection.mutable

/** Driver-local twins of the graph-family fixpoint loops (r17).
  *
  * JoinQueries runs these on the collected edge list when
  * [[graft.operators.LocalCutover]] says it is driver-sized (the
  * rationale and the bound live there); past the bound its distributed
  * loops stand unchanged. GraphLocalSpec pins local == distributed per
  * query on a fixture.
  *
  * Determinism: every function mirrors its distributed twin's exact
  * integer arithmetic and tie-breaks (documented per function), so the
  * results are bit-identical, not just equivalent. The constants and
  * the top-k tie-break the twins share are defined once, below.
  */
private[graft] object GraphLocal {

  // Twin constants: one definition each, read by these functions AND
  // by JoinQueries' distributed loops.
  /** q_shortest_path's hub (source) count. */
  final val Hubs = 128
  /** q_ppr: sources, fixed rounds, the seed mass at each source, the
    * per-round restart mass, and the damping PprDampNum / PprDampDen. */
  final val PprSources = 8
  final val PprRounds = 4
  final val PprSeedMass = 1000000L
  final val PprRestartMass = 150000L
  final val PprDampNum = 85L
  final val PprDampDen = 100L
  /** lpa()'s synchronous label-propagation rounds. */
  final val LpaRounds = 4

  /** The top `k` nodes by degree, ties broken by the smaller node — the
    * (-degree, node) order of [[JoinQueries.topByDegree]]'s
    * TakeOrdered. */
  private def topByDegree(deg: Map[Long, Long], k: Int): Seq[Long] =
    deg.toSeq.sortBy { case (n, d) => (-d, n) }.take(k).map(_._1)

  /** q_kcore's peel loop: repeatedly remove nodes of degree < k until
    * the edge count reaches a fixpoint; returns the survivors'
    * (node, core degree), unordered. Mirrors the distributed loop
    * exactly: degree counts each undirected edge at both endpoints, a
    * round removes every edge touching a below-k node, and the
    * fixpoint probe is the edge count (bad ≠ ∅ ⟺ the peel removes
    * edges, since a below-k node always owns ≥ 1 edge). */
  def kcorePeel(edges0: Array[(Long, Long)], k: Int): Seq[(Long, Long)] = {
    // index-encode nodes once so each peel round is a primitive-array
    // sweep (the triangleCounts discipline) — the boxed-HashMap form
    // paid ~14M boxed updates over the 6 rounds at sf0.1's 1.2M edges,
    // most of the job the cutover exists to remove
    val idx = mutable.HashMap.empty[Long, Int]
    val ids = mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int =
      idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val m = edges0.length
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    var i = 0
    while (i < m) {
      ea(i) = id(edges0(i)._1); eb(i) = id(edges0(i)._2); i += 1
    }
    val n = ids.length
    // live edges stay compacted into [0, live)
    var live = m
    var done = false
    while (!done) {
      val deg = new Array[Long](n)
      i = 0
      while (i < live) { deg(ea(i)) += 1L; deg(eb(i)) += 1L; i += 1 }
      // a node is bad when it HAS live edges but fewer than k — matching
      // the distributed peel, where deg only contains edge-owning nodes
      val bad = new Array[Boolean](n)
      var any = false
      var j = 0
      while (j < n) {
        if (deg(j) > 0L && deg(j) < k) { bad(j) = true; any = true }
        j += 1
      }
      if (!any) done = true
      else {
        var w = 0
        i = 0
        while (i < live) {
          if (!bad(ea(i)) && !bad(eb(i))) {
            ea(w) = ea(i); eb(w) = eb(i); w += 1
          }
          i += 1
        }
        if (w == live) done = true
        live = w
      }
    }
    val core = new Array[Long](n)
    i = 0
    while (i < live) { core(ea(i)) += 1L; core(eb(i)) += 1L; i += 1 }
    (0 until n).collect { case j if core(j) > 0L => (ids(j), core(j)) }
  }

  /** q_shortest_path's multi-source Bellman-Ford: sources are the top
    * [[Hubs]] nodes by out-degree of the DIRECTED edge list
    * ([[topByDegree]]), each round min-relaxes every edge from the
    * PREVIOUS round's distance table (synchronous), and the fixpoint
    * probe is the (row count, dist sum) pair of the new table —
    * exactly the distributed loop's witness. Returns (node, dist),
    * unordered. */
  def hubDistances(edges: Array[(Long, Long, Long)]): Seq[(Long, Long)] = {
    val hubs = topByDegree(edges.groupMapReduce(_._1)(_ => 1L)(_ + _), Hubs)
    var dist: Map[Long, Long] = hubs.map(_ -> 0L).toMap
    var probe = (-1L, -1L)
    var done = false
    while (!done) {
      val next = mutable.HashMap[Long, Long](dist.toSeq: _*)
      edges.foreach { case (u, v, w) =>
        dist.get(u) match {
          case Some(du) =>
            val nd = du + w
            if (next.get(v).forall(_ > nd)) next.update(v, nd)
          case None =>
        }
      }
      val p2 = (next.size.toLong, next.values.sum)
      if (p2 == probe) done = true
      else { dist = next.toMap; probe = p2 }
    }
    dist.toSeq
  }

  /** lpa()'s [[LpaRounds]]-round synchronous label propagation over the
    * DIRECTED edge list: each node adopts the mode of its neighbors'
    * labels, ties broken by SMALLEST label (the distributed
    * max(struct(c, -lbl)) aggregate). Labels start as the node ids.
    * Returns the final (node, label) map.
    *
    * Precondition: `und` is SYMMETRIZED (every (u, v) also appears as
    * (v, u)), so every `v` is also a `u`, every node keeps a label each
    * round, and `lab(v)` is total. The only caller passes JoinQueries'
    * symmetrized backbone. */
  def lpa(und: Array[(Long, Long)]): Map[Long, Long] = {
    var lab: Map[Long, Long] =
      und.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to LpaRounds) {
      val votes = mutable.HashMap.empty[(Long, Long), Long]
      und.foreach { case (u, v) =>
        val key = (u, lab(v))
        votes.update(key, votes.getOrElse(key, 0L) + 1L)
      }
      val best = mutable.HashMap.empty[Long, (Long, Long)] // u -> (c, lbl)
      votes.foreach { case ((u, l), c) =>
        best.get(u) match {
          case Some((bc, bl)) =>
            if (c > bc || (c == bc && l < bl)) best.update(u, (c, l))
          case None => best.update(u, (c, l))
        }
      }
      lab = best.map { case (u, (_, l)) => u -> l }.toMap
    }
    lab
  }

  /** q_ppr's fixed-round personalized-PageRank spread: sources are the
    * top [[PprSources]] nodes by out-degree ([[topByDegree]]); each of
    * [[PprRounds]] rounds every (src, u) mass entry spreads
    * (PprDampNum·(m div d_u)) div PprDampDen along every edge u→v
    * (floor division on non-negative int64 — identical to Spark's
    * IntegralDivide here), plus the [[PprRestartMass]] restart at
    * (src, src); zero-mass entries are dropped. Returns (src, node,
    * mass), unordered. */
  def ppr(edges: Array[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val deg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val srcs = topByDegree(deg, PprSources)
    var p: Map[(Long, Long), Long] =
      srcs.map(s => (s, s) -> PprSeedMass).toMap
    for (_ <- 1 to PprRounds) {
      // group this round's mass by node so the edge sweep is linear
      val byNode = mutable.HashMap.empty[Long, List[(Long, Long)]]
      p.foreach { case ((src, n), m) =>
        byNode.update(n, (src, m) :: byNode.getOrElse(n, Nil))
      }
      val next = mutable.HashMap.empty[(Long, Long), Long]
      edges.foreach { case (u, v) =>
        byNode.get(u) match {
          case Some(masses) =>
            val d = deg(u)
            masses.foreach { case (src, m) =>
              val c = PprDampNum * (m / d) / PprDampDen
              val key = (src, v)
              next.update(key, next.getOrElse(key, 0L) + c)
            }
          case None =>
        }
      }
      srcs.foreach { s =>
        val key = (s, s)
        next.update(key, next.getOrElse(key, 0L) + PprRestartMass)
      }
      p = next.filter(_._2 > 0L).toMap
    }
    p.toSeq.map { case ((src, n), m) => (src, n, m) }
  }

  /** q_triangle_count's per-node triangle counts over the DISTINCT
    * undirected edge list: the same degree-ordered forward algorithm
    * the distributed plan runs (orient u→v when (deg, id) of u is
    * smaller; every triangle has exactly one rank-ordered orientation,
    * so it is found exactly once), realized as sorted primitive-int
    * adjacency arrays + merge-intersection — no boxing anywhere on the
    * O(Σ d⁺²) hot path (~82M int comparisons at sf0.1's 1.2M-edge
    * graph, well under a second, where the distributed wedge self-join
    * materializes ~41M rows). Nodes are index-encoded in rank order so
    * the rank comparison IS the int comparison. Returns (node,
    * n_triangles) for nodes in ≥1 triangle, unordered — exact
    * combinatorics, so equality with the distributed count needs no
    * arithmetic mirroring. */
  def triangleCounts(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val degM = mutable.HashMap.empty[Long, Long]
    edges.foreach { case (a, b) =>
      degM.update(a, degM.getOrElse(a, 0L) + 1L)
      degM.update(b, degM.getOrElse(b, 0L) + 1L)
    }
    val sorted = degM.keys.toArray.sortBy(n => (degM(n), n))
    val idx = mutable.HashMap.empty[Long, Int]
    var i = 0
    while (i < sorted.length) { idx.update(sorted(i), i); i += 1 }
    val n = sorted.length
    val adjCount = new Array[Int](n)
    edges.foreach { case (a, b) =>
      val ia = idx(a); val ib = idx(b)
      adjCount(if (ia < ib) ia else ib) += 1
    }
    val adj = Array.tabulate(n)(j => new Array[Int](adjCount(j)))
    val fill = new Array[Int](n)
    edges.foreach { case (a, b) =>
      val ia = idx(a); val ib = idx(b)
      val s = if (ia < ib) ia else ib
      val t = if (ia < ib) ib else ia
      adj(s)(fill(s)) = t; fill(s) += 1
    }
    i = 0
    while (i < n) { java.util.Arrays.sort(adj(i)); i += 1 }
    val tri = new Array[Long](n)
    i = 0
    while (i < n) {
      val au = adj(i)
      var j = 0
      while (j < au.length) {
        val v = au(j)
        val av = adj(v)
        // merge-intersect the rank-above-v tail of fwd(u) with fwd(v):
        // every common w closes the rank-ordered triangle (u, v, w)
        var p = j + 1; var q = 0
        while (p < au.length && q < av.length) {
          val x = au(p); val y = av(q)
          if (x == y) {
            tri(i) += 1L; tri(v) += 1L; tri(x) += 1L; p += 1; q += 1
          } else if (x < y) p += 1
          else q += 1
        }
        j += 1
      }
      i += 1
    }
    (0 until n).collect { case j if tri(j) > 0L => (sorted(j), tri(j)) }
  }

  /** ConnectedComponents' result on a collected pair list: components
    * labeled by their MINIMUM member (union-find with min
    * representatives — the same labeling the distributed min-label
    * propagation converges to). Returns (node, component) for every
    * node that appears in a pair, unordered. */
  def connectedComponents(pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent.getOrElse(c, c); parent.update(c, r); c = nxt
      }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // union by MIN root so the representative is the component min
        if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
      }
    }
    val nodes = mutable.HashSet.empty[Long]
    pairs.foreach { case (a, b) => nodes += a; nodes += b }
    nodes.toSeq.map(n => n -> find(n))
  }
}
