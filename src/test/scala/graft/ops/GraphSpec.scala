package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Graph.pagerank: centrality ordering on hand graphs, symmetry,
  * approximate mass conservation under floor rounding. */
class GraphSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def ranks(pairs: Seq[(Long, Long)], iters: Int = 10): Map[Long, Long] =
    Graph.pagerank(pairs.toDF("doc_a", "doc_b"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

  test("a star's center outranks its leaves; leaves tie exactly") {
    val r = ranks(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    assert(r(0L) > r(1L))
    assert(Set(r(1L), r(2L), r(3L), r(4L)).size == 1)
  }

  test("a symmetric triangle gives identical ranks; a path peaks in the middle") {
    val tri = ranks(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(Set(tri(1L), tri(2L), tri(3L)).size == 1)
    val path = ranks(Seq((1L, 2L), (2L, 3L)))
    assert(path(2L) > path(1L) && path(1L) == path(3L))
  }

  test("rank mass stays within floor-rounding slack of the scale") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L), (2L, 5L))
    val r = ranks(pairs)
    val total = r.values.sum
    // each round floors once per (edge endpoint) + once for the base:
    // drift is at most a few units per node per round at scale 1e12
    assert(total <= Graph.Scale)
    assert(total >= Graph.Scale - 1000L)
    // every node present, every rank positive
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(r.values.forall(_ > 0))
  }

  private def tris(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    Graph.triangles(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("triangle counts: one triangle, every vertex participates once") {
    val r = tris(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(r == Map(1L -> (2L, 1L), 2L -> (2L, 1L), 3L -> (2L, 1L)))
  }

  test("K4 has C(3,2)=3 triangles per vertex; a star and a path have none") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tris(k4).values.forall(_ == (3L, 3L)))
    val star = tris(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(star.values.forall(_._2 == 0L))
    val path = tris(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(path.values.forall(_._2 == 0L))
  }

  test("triangles are orientation-invariant: reversed and duplicated pairs agree") {
    val fwd = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
    val messy = fwd.map { case (a, b) => (b, a) } ++ fwd // reversed + dup
    assert(tris(fwd) == tris(messy))
  }

  test("iteration deltas contract geometrically (damping 0.85)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    def maxDiff(a: Map[Long, Long], b: Map[Long, Long]): Long =
      a.map { case (k, v) => math.abs(v - b(k)) }.max
    val early = maxDiff(ranks(pairs, 2), ranks(pairs, 4))
    val late = maxDiff(ranks(pairs, 10), ranks(pairs, 12))
    // eight more rounds shrink the per-round delta by ~0.85^8 ≈ 0.27;
    // assert a loose 1/2 bound (the exact deltas are fixed integers)
    assert(late * 2 < early, s"early=$early late=$late")
  }
  test("driver fast path == distributed loop: pagerank and triangles, random graphs") {
    val rnd = new scala.util.Random(11)
    // random graph + a clique + a self-pair + duplicate/reversed pairs
    val base = (1 to 120).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong + 1)) ++
      Seq((50L, 51L), (51L, 52L), (50L, 52L), (7L, 7L)) ++
      Seq((3L, 9L), (9L, 3L), (3L, 9L))
    val df = base.toDF("doc_a", "doc_b").repartition(4)
    def m3(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m3(Graph.pagerank(df)) ==
      m3(Graph.pagerank(df, smallGraphEdges = 0)))
    assert(m3(Graph.triangles(df)) ==
      m3(Graph.triangles(df, smallGraphEdges = 0)))
  }

  test("driver fast path == distributed loop: string keys (UTF-8 ordering)") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("\u00e9", "z"),
      ("z", "Z"), ("Z", "\u00e9")).toDF("doc_a", "doc_b")
    def m3(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m3(Graph.triangles(pairs)) ==
      m3(Graph.triangles(pairs, smallGraphEdges = 0)))
    assert(m3(Graph.pagerank(pairs)) ==
      m3(Graph.pagerank(pairs, smallGraphEdges = 0)))
  }

  test("binary keys take the distributed path and never fragment nodes") {
    // a driver HashMap keyed on byte arrays would use reference
    // equality, splitting node B into two — the key-type gate must
    // route binary keys to the distributed loop (value equality)
    val pairs = Seq(
      (Array[Byte](1, 2), Array[Byte](3, 4)),
      (Array[Byte](3, 4), Array[Byte](5, 6))).toDF("doc_a", "doc_b")
    val pr = Graph.pagerank(pairs).collect()
    assert(pr.length == 3, s"expected 3 nodes, got ${pr.length}")
    val tri = Graph.triangles(pairs).collect()
    assert(tri.length == 3 && tri.forall(_.getLong(2) == 0L))
  }

}
