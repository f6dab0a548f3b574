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
    val out = ConnectedComponents.run(vertices, edges, maxIter = 25,
        localEdgeCap = 0)
      .as[(Long, Long)].collect()
    assert(out.length === n)
    assert(out.forall(_._2 == 0L), "chain must collapse to the min label")
  }

  test("a round budget too small for the graph fails the call") {
    // the 200-vertex chain above needs ~10 rounds; one round leaves it
    // split, which must not be returned as a clustering
    val (vertices, edges) = chain(200)
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(vertices, edges, maxIter = 1, localEdgeCap = 0)
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

  test("union-find labels a 10^6-vertex chain unioned from the high end with 0") {
    // every union links a fresh root under its smaller neighbour, so the
    // parent chain is as long as the graph: a recursive find overflows
    val n = 1000000
    val uf = new ConnectedComponents.UnionFind
    var i = n - 1
    while (i > 0) { uf.union(i - 1L, i.toLong); i -= 1 }
    val labels = uf.labels
    assert(labels.length === n)
    assert(labels.forall(_._2 == 0L))
  }

  /** (vertices, edges) of one random graph per shape; ids are scattered
    * and some negative, as `xxhash64` repo ids are. */
  private def shapes(rnd: scala.util.Random): Seq[(String, Seq[Long], Seq[(Long, Long)])] = {
    def ids(n: Int) = Seq.fill(n)(rnd.nextLong() % 1000000007L).distinct
    def orient(e: (Long, Long)) = if (rnd.nextBoolean()) e else e.swap
    val chain = {
      // ids rise along the path, as a version chain's file ids do
      val v = ids(300).sorted
      ("long chain, shuffled edge order", v,
        rnd.shuffle(v.sliding(2).map(p => orient((p(0), p(1)))).toSeq))
    }
    val stars = {
      val v = ids(200)
      val hubs = v.take(5)
      ("stars", v ++ ids(10), v.drop(5).map(l => orient((hubs(rnd.nextInt(5)), l))))
    }
    val hubShape = {
      // megacluster: a few hub bases with many forks, near-cliques among a
      // hub's edited variants, vendored copies linking two hubs
      val hubs = ids(4)
      val forks = hubs.map(h => h -> ids(60))
      val e = forks.flatMap { case (h, fs) =>
        fs.map(f => orient((h, f))) ++
          fs.take(8).combinations(2).map(p => orient((p(0), p(1))))
      } :+ orient((forks(0)._2.last, forks(1)._2.last))
      ("megacluster hubs", hubs ++ forks.flatMap(_._2) ++ ids(20), rnd.shuffle(e))
    }
    val dupsAndLoops = {
      val v = ids(80)
      val e = Seq.fill(120)(orient((v(rnd.nextInt(80)), v(rnd.nextInt(80)))))
      ("duplicate edges and self-loops", v,
        rnd.shuffle(e ++ e.take(40).map(_.swap) ++ e.take(20) ++
          v.take(10).map(x => (x, x))))
    }
    val missing = {
      val v = ids(100)
      val e = Seq.fill(60)(orient((v(rnd.nextInt(100)), v(rnd.nextInt(100)))))
      // ids ≥ 2^40 never come out of ids(): edge vertices outside vertices
      val outside = Seq.fill(15)((1L << 40) + rnd.nextInt(1000))
      ("edge vertices missing from vertices", v,
        e ++ outside.map(o => orient((o, v(rnd.nextInt(100))))) :+
          ((1L << 41), (1L << 41) + 1))
    }
    Seq(chain, stars, hubShape, dupsAndLoops, missing,
      ("empty edge set", ids(30), Seq.empty))
  }

  test("local path, distributed path and a sequential union-find agree (property)") {
    val rnd = new scala.util.Random(7)
    shapes(rnd).foreach { case (shape, vs, es) =>
      val uf = new ConnectedComponents.UnionFind
      es.foreach { case (a, b) => uf.union(a, b) }
      val labeled = uf.labels
      val inEdges = labeled.map(_._1).toSet
      val expected = (labeled ++ vs.filterNot(inEdges).map(v => (v, v))).toSet
      val vertices = vs.toDF("fileId")
      val edges = es.toDF("a", "b")
      // cap 0 forces the distributed path on every non-empty edge set
      Seq("local" -> ConnectedComponents.LocalEdgeCap, "distributed" -> 0)
        .foreach { case (path, cap) =>
          val out = ConnectedComponents.run(vertices, edges,
            localEdgeCap = cap).as[(Long, Long)].collect()
          assert(out.length === expected.size, s"$shape, $path: one row per vertex")
          assert(out.toSet === expected, s"$shape, $path")
        }
    }
  }
}
