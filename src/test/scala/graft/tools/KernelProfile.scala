package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow

import graft.chunking.{ChunkerConfig, Chunkers}
import graft.obs.Measure
import graft.pipeline.{DedupConfig, Shingles}

/** Single-thread kernel profile, each kernel warmed once and then timed.
  *  - Every chunking algorithm over a real file: chunk count, average
  *    chunk and throughput, plus FastCDC's shift resistance (boundaries
  *    realigned after a 1 KiB prefix insert).
  *  - Where a featurize CPU second goes (chunk+SHA-1, sha256, shingles,
  *    MinHash, SimHash) over a local CorpusGen corpus of `nBases` bases.
  *
  * Run: sbt "Test/runMain graft.tools.KernelProfile [path] [nBases]"
  */
object KernelProfile {
  /** Warm-up, then one timed run. */
  private def once[T](f: => T): Measure.Sample[T] =
    Measure.bestOf(1, f)(Measure.timed(f))

  def main(args: Array[String]): Unit = {
    // default input: the Spark catalyst jar on this JVM's classpath
    val path = args.headOption.getOrElse(classOf[InternalRow]
      .getProtectionDomain.getCodeSource.getLocation.getPath)
    chunkers(path)
    featurize(args.lift(1).map(_.toInt).getOrElse(2000))
  }

  private def chunkers(path: String): Unit = {
    val bytes = Files.readAllBytes(Paths.get(path))
    println(s"input: $path (${bytes.length} bytes)")
    for (algo <- Seq("fastcdc", "rabin", "normalized_rabin", "tttd", "ae", "fixed")) {
      val cfg = ChunkerConfig(algo)
      val s = once(Chunkers.boundaries(bytes, cfg))
      val n = s.result.length
      val avg = bytes.length.toDouble / n
      println(f"$algo%-17s chunks=$n%6d avgChunk=$avg%8.1f B  throughput=${bytes.length / s.wallSec / 1e6}%8.1f MB/s")
    }
    val edited = Array.fill[Byte](1024)(7) ++ bytes
    val a = Chunkers.boundaries(bytes, ChunkerConfig("fastcdc")).map(b => b.offset + b.length).toSet
    val b = Chunkers.boundaries(edited, ChunkerConfig("fastcdc")).map(x => x.offset + x.length - 1024).toSet
    println(s"fastcdc boundaries realigned after 1KB prefix insert: ${a.intersect(b).size}/${a.size}")
  }

  private def featurize(nBases: Int): Unit = {
    val files = graft.corpus.CorpusGen.generateLocal(nBases = nBases).map(_._1)
    val bytes = files.map(_.content.getBytes(UTF_8))
    val total = bytes.map(_.length.toLong).sum
    val cfg = DedupConfig()
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    val sha256 = java.security.MessageDigest.getInstance("SHA-256")
    def time[T](name: String)(f: => T): T = {
      val s = once(f)
      println(f"[feat] $name%-12s ${s.wallSec}%6.2f s  ${total / s.wallSec / 1e6}%7.1f MB/s")
      s.result
    }
    time("chunk+sha1") {
      val cut = Chunkers.forConfig(cfg.chunker)
      bytes.foreach { b =>
        Chunkers.boundaries(b, cut).foreach { bd =>
          sha1.reset(); sha1.update(b, bd.offset, bd.length); sha1.digest()
        }
      }
    }
    time("sha256") {
      bytes.foreach { b => sha256.reset(); sha256.digest(b) }
    }
    val shingleSets = time("shingles") {
      bytes.map(b => Shingles.shingleHashes(b, cfg.shingle))
    }
    val nSh = shingleSets.map(_.length.toLong).sum
    time("minhash128") {
      shingleSets.foreach(s => Shingles.minhash(s, cfg.shingle.minhashK))
    }
    time("simhash") {
      shingleSets.foreach(Shingles.simhash)
    }
    println(f"[feat] files=${files.size} bytes=$total shingles=$nSh (avg ${total / math.max(nSh, 1)} B)")
  }
}
