package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Path graph 0 - 1 - … - (n-1) as (vertices, edges). */
  private def chain(n: Int) =
    ((0L until n.toLong).toDF("fileId"),
      (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b"))

  test("deep chain converges within the round budget via pointer jumping") {
    // path graph of 200 vertices: one-hop min-label alone needs ~200
    // rounds (> maxIter 25 → split clusters); adaptive doubling converges
    // in ~2 + log2(200) ≈ 10
    val n = 200
    val (vertices, edges) = chain(n)
    val out = ConnectedComponents.run(vertices, edges, maxIter = 25)
      .as[(Long, Long)].collect()
    assert(out.length === n)
    assert(out.forall(_._2 == 0L), "chain must collapse to the min label")
  }

  test("a round budget too small for the graph fails the call") {
    // the 200-vertex chain above needs ~10 rounds; one round leaves it
    // split, which must not be returned as a clustering
    val (vertices, edges) = chain(200)
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(vertices, edges, maxIter = 1)
    }
    assert(e.getMessage.contains("not converged after 1 rounds"))
  }

  test("empty edge set yields all-singleton clusters (no null-sum crash)") {
    val vertices = (0L to 4L).toDF("fileId")
    val edges = spark.emptyDataset[(Long, Long)].toDF("a", "b")
    val m = ConnectedComponents.run(vertices, edges, maxIter = 5)
      .as[(Long, Long)].collect().toMap
    assert(m.size === 5)
    assert(m.forall { case (v, c) => v == c })
  }

  test("disjoint components and singletons keep distinct min labels") {
    val vertices = (0L to 9L).toDF("fileId")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val m = ConnectedComponents.run(vertices, edges, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).map(m).toSet === Set(1L))
    assert(Seq(5L, 6L).map(m).toSet === Set(5L))
    assert(Seq(0L, 4L, 7L, 8L, 9L).forall(v => m(v) == v))
  }
}
