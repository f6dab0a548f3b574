package graft.pipeline

import graft.chunking.Chunkers
import graft.functions.Hash64

/** Shingling + signature configuration for the near-dup pipeline.
  *
  * The reference samples features from 8 KiB backup chunks
  * (src/index/sampling_method.c); source-code files are mostly smaller
  * than one such chunk, so near-dup shingles here are *fine-grained*
  * content-defined micro-chunks cut by the same gear rolling hash the
  * reference uses for FastCDC (src/chunking/fascdc_chunking.c:90), with a
  * small average size. Signatures (MinHash / SimHash) are computed over
  * the 64-bit hashes of those shingles.
  */
final case class ShingleConfig(
    minShingle: Int = 16,
    maxShingle: Int = 256,
    /** cut when (gearFp & mask)==0; avg shingle ≈ 2^bits + min */
    maskBits: Int = 6,
    minhashK: Int = 128,
    bands: Int = 32,
    rowsPerBand: Int = 4,
    /** exact-Jaccard acceptance threshold for a verified dup pair */
    tau: Double = 0.7,
    /** LSH band buckets with more members than this are linked as a hub
      * star (skew guard, [[DedupPipeline.candidatePairs]]): each member is
      * a candidate with the bucket's smallest file id only, O(n) pairs
      * instead of O(n²). A pair of members that verifies only against
      * each other, not against the hub, gets no candidate from that
      * bucket. */
    maxBucket: Int = 512,
    /** SimHash hamming radius considered near-dup */
    simhashRadius: Int = 3) {
  require(minhashK == bands * rowsPerBand, "minhashK must equal bands*rowsPerBand")
  def shingleMask: Long = (1L << maskBits) - 1
}

object Shingles {

  /** Content-defined micro-shingles: gear rolling hash, cut at
    * (fp & mask)==0 after minShingle bytes, forced at maxShingle.
    * Returns the sorted distinct 64-bit hashes of the shingle byte ranges.
    */
  def shingleHashes(bytes: Array[Byte], cfg: ShingleConfig): Array[Long] = {
    if (bytes.isEmpty) return Array.emptyLongArray
    val gear = Chunkers.gearTable
    val mask = cfg.shingleMask
    // primitive buffer + sort + in-place dedup (r6): the former boxed
    // TreeSet allocated a node per shingle on the featurize hot path;
    // output is the identical sorted-distinct array
    var buf = new Array[Long](math.max(8, bytes.length / cfg.minShingle + 2))
    var m = 0
    def push(h: Long): Unit = {
      if (m == buf.length) buf = java.util.Arrays.copyOf(buf, m * 2)
      buf(m) = h; m += 1
    }
    var start = 0
    var fp = 0L
    var i = 0
    val n = bytes.length
    while (i < n) {
      fp = (fp << 1) + gear(bytes(i) & 0xff)
      val len = i - start + 1
      if ((len >= cfg.minShingle && (fp & mask) == 0L) || len >= cfg.maxShingle) {
        push(Hash64.hashBytes(bytes, start, len, 0L))
        start = i + 1
        fp = 0L
      }
      i += 1
    }
    if (start < n) push(Hash64.hashBytes(bytes, start, n - start, 0L))
    java.util.Arrays.sort(buf, 0, m)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || buf(i) != buf(w - 1)) { buf(w) = buf(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(buf, w)
  }

  /** k-permutation MinHash signature over shingle hashes.
    * Permutation i is xxh64 re-hash with seed i — identical in Spark tasks
    * and in the sequential oracle. Empty shingle sets yield an empty
    * signature (such files are handled by exact-hash dedup only).
    */
  def minhash(shingles: Array[Long], k: Int): Array[Long] = {
    if (shingles.isEmpty) return Array.emptyLongArray
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val s = shingles(i)
      var j = 0
      while (j < k) {
        val h = Hash64.hashLong(s, j.toLong)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit SimHash over shingle hashes (unweighted bit-majority). */
  def simhash(shingles: Array[Long]): Long = {
    if (shingles.isEmpty) return 0L
    val counts = new Array[Int](64)
    var i = 0
    while (i < shingles.length) {
      val h = shingles(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** LSH band bucket hashes: band j = xxh64 chain over its r signature
    * rows, seeded by the band index so buckets never collide across bands.
    */
  def bandHashes(sig: Array[Long], cfg: ShingleConfig): Array[Long] = {
    if (sig.isEmpty) return Array.emptyLongArray
    val out = new Array[Long](cfg.bands)
    var b = 0
    while (b < cfg.bands) {
      var h = 0x6ba7d0L + b
      var r = 0
      while (r < cfg.rowsPerBand) {
        h = Hash64.hashLong(sig(b * cfg.rowsPerBand + r), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Exact Jaccard of two sorted distinct long arrays (merge scan). */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** MinHash Jaccard estimate = fraction of matching signature rows. */
  def minhashEstimate(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty || b.isEmpty || a.length != b.length) return 0.0
    var i = 0; var eq = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
