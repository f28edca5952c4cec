package graft.queries

import graft.SparkSpec

/** Pins for the r17 driver-local graph-loop cutover (GraphLocal): each
  * wired query must return BIT-IDENTICAL results on the local and the
  * distributed path — the BpeSpec local==distributed posture. Each
  * case runs twice, flipped by LocalCutover's one switch, the
  * `graft.forceDistributed` system property ("true" forces the
  * distributed loop; with it "false" the fixtures, far under the
  * bound, run local).
  *
  * Two fixtures: a DENSE one (a 90-part clique order plus degree-3
  * leaves) whose k=80 core is non-empty and whose leaves actually
  * peel, and a BACKBONE one (200 parts, doubled baskets for support-2,
  * plus single baskets the support cut must drop) with >128 backbone
  * nodes so hub selection, Bellman-Ford distances, PPR spread and LPA
  * communities are all non-vacuous.
  */
class GraphLocalSpec extends SparkSpec {

  import spark.implicits._

  private def withProp[A](k: String, v: String)(f: => A): A = {
    val old = sys.props.get(k)
    sys.props(k) = v
    try f
    finally old match {
      case Some(o) => sys.props(k) = o
      case None => sys.props -= k
    }
  }

  private def writeLineitem(baskets: Seq[Seq[Long]], prefix: String)
      : String = {
    val d = tmpDir(prefix)
    baskets.zipWithIndex.flatMap { case (ps, o) =>
      ps.map(p => (o.toLong, p))
    }.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  /** Dense fixture: one 90-part clique basket (intra-clique degree 89
    * ≥ k=80 survives), 30 leaf parts each co-ordered with 3 clique
    * parts (degree 3 < 80, peeled in round 1). */
  private lazy val denseDir: String = {
    val clique = (1L to 90L).toSeq
    val leaves = (0 until 30).map { i =>
      Seq(1000L + i, 1L + (i % 30), 31L + (i % 30), 61L + (i % 30))
    }
    writeLineitem(clique +: leaves, "graft-graphlocal-dense")
  }

  /** Backbone fixture: 250 doubled baskets (support ≥ 2 by
    * construction) of size 2-4 over 200 parts, plus 100 single baskets
    * whose unique pairs the support-2 cut must drop. Seeded — the
    * fixture is deterministic across runs. */
  private lazy val backboneDir: String = {
    val rnd = new scala.util.Random(42)
    val doubled = (0 until 250).flatMap { _ =>
      val sz = 2 + rnd.nextInt(3)
      val b = Seq.fill(sz)(1L + rnd.nextInt(200)).distinct
      Seq(b, b)
    }
    val single = (0 until 100).map { _ =>
      Seq.fill(3)(1L + rnd.nextInt(200)).distinct
    }
    writeLineitem(doubled ++ single, "graft-graphlocal-backbone")
  }

  /** `f` run on the local path, then forced onto the distributed one. */
  private def bothRegimes[A](f: => A): (A, A) =
    (withProp(graft.operators.LocalCutover.ForceDistributed, "false")(f),
      withProp(graft.operators.LocalCutover.ForceDistributed, "true")(f))

  private def bothPaths(q: String, dir: String)
      : (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) =
    bothRegimes(graft.SparkEntry.queries(q)(spark, dir).collect().toSeq)

  private def components(pairs: org.apache.spark.sql.DataFrame)
      : (Set[(Long, Long)], Set[(Long, Long)]) =
    bothRegimes(graft.operators.ConnectedComponents.run(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

  test("q_kcore local == distributed on the dense fixture " +
      "(non-empty core, leaves peeled)") {
    val (local, dist) = bothPaths("q_kcore", denseDir)
    assert(local == dist)
    assert(local.size == 90, s"core lost: ${local.size} nodes")
    assert(local.forall(_.getLong(1) >= 80L))
  }

  test("q_kcore local == distributed on the sparse fixture " +
      "(everything peels — both paths return the empty core)") {
    val (local, dist) = bothPaths("q_kcore", backboneDir)
    assert(local == dist)
    assert(local.isEmpty)
  }

  test("q_shortest_path local == distributed (non-vacuous: >128 " +
      "backbone nodes, so some distances are non-zero)") {
    val (local, dist) = bothPaths("q_shortest_path", backboneDir)
    assert(local == dist)
    assert(local.nonEmpty)
    assert(local.exists(_.getLong(1) > 0L),
      "fixture lost its structure: every node is a hub")
  }

  test("q_ppr local == distributed (8 sources, 4 integer rounds)") {
    val (local, dist) = bothPaths("q_ppr", backboneDir)
    assert(local == dist)
    assert(local.map(_.getLong(0)).distinct.size == 8)
  }

  test("q_label_prop local == distributed") {
    val (local, dist) = bothPaths("q_label_prop", backboneDir)
    assert(local == dist)
    assert(local.size > 1, "fixture collapsed to one community")
  }

  test("q_graph_modularity local == distributed") {
    val (local, dist) = bothPaths("q_graph_modularity", backboneDir)
    assert(local == dist)
  }

  test("q_triangle_count local == distributed on the dense fixture " +
      "(clique of 90: C(90,3) triangles, each node in C(89,2))") {
    val (local, dist) = bothPaths("q_triangle_count", denseDir)
    assert(local == dist)
    val byNode = local.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 90L).forall(byNode.get(_).exists(_ >= 3916L)),
      "clique corners lost triangles")
  }

  test("q_triangle_count local == distributed on the backbone fixture") {
    val (local, dist) = bothPaths("q_triangle_count", backboneDir)
    assert(local == dist)
    assert(local.nonEmpty, "fixture has no triangles")
  }

  test("ConnectedComponents.run local == distributed on a chain + " +
      "islands (multi-round convergence, min-label components)") {
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (200L, 201L), (201L, 202L), (200L, 202L)))
      .toDF("doc_a", "doc_b")
    val (local, dist) = components(pairs)
    assert(local == dist)
    val expected = (1L to 10L).map(_ -> 1L).toSet ++
      Set(100L -> 100L, 101L -> 100L,
        200L -> 200L, 201L -> 200L, 202L -> 200L)
    assert(local == expected)
  }

  test("ConnectedComponents.run drops pairs with a null endpoint on " +
      "both sides of the cutover") {
    // 2 also pairs with a null; 3 appears ONLY beside a null, so it is
    // no vertex at all
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)),
      (None, None), (Some(4L), Some(5L)))
      .toDF("doc_a", "doc_b")
    val (local, dist) = components(pairs)
    assert(local == dist)
    assert(local == Set(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }
}
