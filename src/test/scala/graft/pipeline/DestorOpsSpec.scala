package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics for sampling, segmenting, and champion selection —
  * the destor-parity fine print.
  */
class DestorOpsSpec extends AnyFunSuite {

  /** hex fp with a chosen little-endian int32 at bytes [16,20). */
  private def fpWithTail(prefix: Int, tail: Int): String = {
    val head = f"$prefix%032x"
    val b = Array[Byte](
      (tail & 0xff).toByte, ((tail >> 8) & 0xff).toByte,
      ((tail >> 16) & 0xff).toByte, ((tail >> 24) & 0xff).toByte)
    head + b.map(x => f"${x & 0xff}%02x").mkString
  }

  test("fpTailInt reads int32 little-endian from hex chars 32..40") {
    assert(Segmenting.fpTailInt(fpWithTail(1, 0)) === 0)
    assert(Segmenting.fpTailInt(fpWithTail(1, 12345)) === 12345)
    assert(Segmenting.fpTailInt(fpWithTail(1, -7)) === -7)
  }

  test("featureNum rounding matches the reference formula") {
    assert(Sampling.featureNum(300, 128) === 2) // remain 44*2 <= 128
    assert(Sampling.featureNum(200, 128) === 2) // remain 72*2 > 128
    assert(Sampling.featureNum(100, 128) === 1)
    assert(Sampling.featureNum(0, 128) === 1)
    assert(Sampling.featureNum(5, 0) === 1)
  }

  test("uniform sampling takes every Nth chunk") {
    val fps = Seq("a", "b", "c", "d", "e").map(s => s * 40)
    assert(Sampling.uniform(fps, 2) === Set("a" * 40, "c" * 40, "e" * 40))
  }

  test("random sampling selects by fp tail mod") {
    val hit = fpWithTail(1, 256) // 256 % 128 == 0
    val miss = fpWithTail(2, 257)
    assert(Sampling.random(Seq(hit, miss), 128) === Set(hit))
    // no hits → all-zero sentinel feature
    assert(Sampling.random(Seq(miss), 128) === Set("0" * 40))
  }

  test("min sampling: duplicates occupy candidate slots") {
    val a = "a" * 40; val b = "b" * 40; val c = "c" * 40
    // chunkNum=4, ratio=2 → featureNum=2; candidates fill with [a, a]
    assert(Sampling.minSample(Seq(b, a, a, c), 2) === Set(a))
    // distinct smallest two
    assert(Sampling.minSample(Seq(b, a, c, c), 2) === Set(a, b))
  }

  test("optimized min sampling: candidate is the fp 8 positions earlier") {
    val fps = (0 until 12).map(i => fpWithTail(100 - i, i)).toVector
    // make index 9 the minimum anchor
    val minFp = fpWithTail(0, 9)
    val seq = fps.updated(9, minFp)
    val features = Sampling.optimizedMin(seq, 100) // featureNum = 1
    assert(features === Set(seq(1))) // 9 - 8 = position 1
    // single chunk: candidate = itself
    assert(Sampling.optimizedMin(Seq(fps(3)), 100) === Set(fps(3)))
  }

  test("content-defined segmenting: boundary starts a new segment after min") {
    // avg=2: boundary when tail % 2 == 0
    val odd = (i: Int) => fpWithTail(i, 1)
    val even = (i: Int) => fpWithTail(i, 2)
    val fps = Seq(odd(1), even(2), odd(3), even(4), odd(5))
    // min=2: first two chunks always in seg 0; chunk idx3 (even) starts seg 1
    val segs = Segmenting.contentDefined(avg = 2, min = 2, max = 10)(fps)
    assert(segs.toSeq === Seq(0L, 0L, 0L, 1L, 1L))
  }

  test("content-defined segmenting: max closes segment including boundary chunk") {
    val odd = (i: Int) => fpWithTail(i, 1)
    val fps = (1 to 7).map(odd)
    val segs = Segmenting.contentDefined(avg = 2, min = 1, max = 3)(fps)
    assert(segs.toSeq === Seq(0L, 0L, 0L, 1L, 1L, 1L, 2L))
  }

  test("fixed and file segmenting") {
    val fps = (1 to 5).map(i => fpWithTail(i, 1))
    assert(Segmenting.fixed(2)(fps).toSeq === Seq(0L, 0L, 1L, 1L, 2L))
    assert(Segmenting.fileDefined(fps).toSeq === Seq(0L, 0L, 0L, 0L, 0L))
  }

  test("greedy champion selection trims covered features before re-ranking") {
    val cands = Seq(
      10L -> Set("f1", "f2", "f3"),
      20L -> Set("f2", "f3"),
      30L -> Set("f3", "f4"))
    val picks = SimilaritySelection.champions(cands, 2)
    // first pick: 10 (3 shared); after trim 20→{}, 30→{f4} → second pick 30
    assert(picks === Seq((10L, 3), (30L, 1)))
    // without trim, plain ranking would have picked 20 second
  }

  test("champion ties break toward the larger segment id") {
    val cands = Seq(1L -> Set("a"), 2L -> Set("b"))
    assert(SimilaritySelection.champions(cands, 1) === Seq((2L, 1)))
  }
}
