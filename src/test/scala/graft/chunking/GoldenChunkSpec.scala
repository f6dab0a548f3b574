package graft.chunking

import org.scalatest.funsuite.AnyFunSuite

/** Bit-exactness gate for the CDC ports: boundary lists produced by the
  * REFERENCE C implementations (compiled from /root/reference/src/chunking
  * into a standalone probe; see scripts/golden_chunks.md) on seeded
  * pseudo-random inputs, frozen under src/test/resources/golden. The
  * Scala ports must reproduce every (offset, length) pair exactly.
  *
  * Inputs are regenerated in-memory: java.util.Random(seed).nextBytes is
  * a specified LCG, identical across JVMs.
  */
class GoldenChunkSpec extends AnyFunSuite {

  private def input(name: String): Array[Byte] = {
    val (seed, n) = name match {
      case "in_1m" => (42L, 1048576)
      case "in_200k" => (7L, 200000)
      case "in_3k" => (9L, 3000)
    }
    val b = new Array[Byte](n)
    new java.util.Random(seed).nextBytes(b)
    b
  }

  private def golden(algo: String, in: String): Seq[(Int, Int)] = {
    val res = getClass.getResourceAsStream(s"/golden/${algo}_$in.txt")
    assert(res != null, s"missing golden resource ${algo}_$in")
    scala.io.Source.fromInputStream(res).getLines().map { l =>
      val Array(off, len) = l.trim.split(" ")
      (off.toInt, len.toInt)
    }.toSeq
  }

  for {
    algo <- Seq("fastcdc", "rabin", "normalized_rabin", "tttd", "ae")
    in <- Seq("in_1m", "in_200k", "in_3k")
  } test(s"$algo boundaries are bit-exact vs the reference C on $in") {
    val got = Chunkers.boundaries(input(in), ChunkerConfig(algo))
      .map(b => (b.offset, b.length)).toSeq
    assert(got === golden(algo, in))
  }
}
