package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class RewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // (stream, seq, size, containerId, dup)
  private def recipe(rows: (String, Long, Int, Long, Boolean)*) =
    rows.toDF("stream", "seq", "size", "containerId", "dup")

  test("CAP marks duplicates of low-ranked containers as out-of-order") {
    // container 1 referenced 3000 B, container 2 referenced 100 B
    val r = recipe(
      ("s", 0L, 1000, 1L, true), ("s", 1L, 1000, 1L, true),
      ("s", 2L, 1000, 1L, true), ("s", 3L, 100, 2L, true),
      ("s", 4L, 500, 3L, false))
    val out = Rewrite.cap(r, bufferSize = 1024, cappingLevel = 1)
      .select($"seq", $"outOfOrder").as[(Long, Boolean)].collect().toMap
    assert(out(0L) === false && out(1L) === false && out(2L) === false)
    assert(out(3L) === true) // container 2 outside top-1
    assert(out(4L) === false) // unique chunks never marked
  }

  test("CAP tumbling buffers are independent") {
    val r = recipe(
      ("s", 0L, 100, 1L, true), ("s", 1L, 900, 2L, true), // buffer 0: top=2
      ("s", 2L, 900, 1L, true), ("s", 3L, 100, 2L, true)) // buffer 1: top=1
    val out = Rewrite.cap(r, bufferSize = 2, cappingLevel = 1)
      .select($"seq", $"outOfOrder").as[(Long, Boolean)].collect().toMap
    assert(out(0L) === true && out(1L) === false)
    assert(out(2L) === false && out(3L) === true)
  }

  test("CBR utility: isolated duplicate has high utility, dense container low") {
    // container 1: one lonely 1 KB dup; container 2: 4 MB of context;
    // a tail of filler keeps everything outside the final unflushed buffer
    val dense = (1L to 8L).map(i => ("s", i, 512 * 1024, 2L, true))
    val tail = (9L to 20L).map(i => ("s", i, 10, 100L + i, false))
    val r = recipe((("s", 0L, 1024, 1L, true) +: dense) ++ tail: _*)
    val out = Rewrite.cbr(r, bufferSize = 10, limit = 0.5, minUtility = 0.5)
      .select($"seq", $"utility", $"outOfOrder")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    val lonely = out.head
    assert(lonely._2 > 0.99) // 1 - 1024/payload
    assert(lonely._3 === true)
    // the dense container covers ≥ payload at its head; its tail rows see
    // less context but fall in the final buffer only if seq+buf > maxSeq
    val denseRows = out.slice(1, 9)
    assert(denseRows.head._2 == 0.0 && !denseRows.head._3)
    // chunks without full lookahead are never marked (stream-end flush)
    assert(out.filter(_._1 > 10).forall(!_._3))
  }

  test("CBR neighbor propagation: not-fragmented decisions inherit within the record run") {
    // container 9 at seq 0 sits in dense context (utility 0 → decided
    // not-fragmented, flipping its buffered containerRecord); its sparse
    // re-occurrence at seq 5 is within the bufferSize=10 window → inherits
    // the decision; the far re-occurrence at seq 30 (gap > buffer) starts
    // a fresh record → re-evaluated and rewritten
    val dense = (1L to 4L).map(i => ("s", i, 1500 * 1024, 9L, true))
    val filler = ((6L to 29L) ++ (31L to 45L)).map(i => ("s", i, 10, 500L + i, false))
    val r = recipe(
      (("s", 0L, 1024, 9L, true) +: dense) ++
        Seq(("s", 5L, 1024, 9L, true), ("s", 30L, 1024, 9L, true)) ++ filler: _*)
    val out = Rewrite.cbr(r, bufferSize = 10, limit = 0.5, minUtility = 0.5)
      .select($"seq", $"outOfOrder").as[(Long, Boolean)].collect().toMap
    assert(out(0L) === false) // dense context → not fragmented
    assert(out(5L) === false) // high utility but inherits not-fragmented
    assert(out(30L) === true) // new record run → evaluated on its own
  }

  test("CFL runs: short same-container runs are rewritten") {
    val r = recipe(
      ("s", 0L, 100, 1L, true), // run of 1, 100 B < 3% of 4 MB
      ("s", 1L, 3 * 1024 * 1024, 2L, true), // big run
      ("s", 2L, 100, 3L, true))
    val out = Rewrite.cflRuns(r, usageThreshold = 0.03)
      .select($"seq", $"outOfOrder").as[(Long, Boolean)].collect().toMap
    assert(out(0L) === true)
    assert(out(1L) === false)
    assert(out(2L) === true)
  }

  test("HAR: sparse selection honors threshold and rewrite limit trim") {
    // three containers: utilizations ~0.001, ~0.2, ~0.9
    val payload = Rewrite.ContainerPayload
    val r = recipe(
      ("s", 0L, 4096, 1L, true),
      ("s", 1L, (payload * 0.2).toInt, 2L, true),
      ("s", 2L, (payload * 0.9).toInt, 3L, false))
    val sparseAll = Rewrite.harSparseContainers(r, 0.5, rewriteLimit = 1.0)
      .select($"containerId").as[Long].collect().toSet
    assert(sparseAll === Set(1L, 2L)) // 3 is ≥ 0.5 utilization
    // tight limit: only the smallest sparse container survives the trim
    val sparseTight = Rewrite.harSparseContainers(r, 0.5, rewriteLimit = 0.01)
      .select($"containerId").as[Long].collect().toSet
    assert(sparseTight === Set(1L))
  }

  test("HAR inherited-sparse marking + write predicate") {
    val r = recipe(("s", 0L, 10, 1L, true), ("s", 1L, 10, 2L, true),
      ("s", 2L, 10, 1L, false))
    val prev = Seq((1L, 10L, 0.1)).toDF("containerId", "refBytes", "utilization")
    val marked = Rewrite.harMark(r, prev)
    val out = Rewrite.writePredicate(marked)
      .select($"seq", $"sparse", $"write").as[(Long, Boolean, Boolean)]
      .collect().sortBy(_._1)
    assert(out(0) === ((0L, true, true))) // dup in sparse container → rewrite
    assert(out(1) === ((1L, false, false))) // dup, not sparse → dedup'd
    assert(out(2) === ((2L, false, true))) // unique → always written
  }

  test("utilization histogram buckets") {
    val payload = Rewrite.ContainerPayload
    val r = recipe(
      ("s", 0L, (payload * 0.05).toInt, 1L, true), // bucket 1
      ("s", 1L, (payload * 0.95).toInt, 2L, true)) // bucket 10
    val buckets = Rewrite.utilizationHistogram(r)
      .select($"bucket", $"containers").as[(Int, Long)].collect().toMap
    assert(buckets === Map(1 -> 1L, 10 -> 1L))
  }
}
