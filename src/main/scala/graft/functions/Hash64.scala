package graft.functions

/** Self-contained xxHash64 (public algorithm, https://xxhash.com spec).
  *
  * Used as the shared 64-bit hash family for MinHash permutations,
  * SimHash token hashing, LSH band buckets and stable file ids — the same
  * scalar code runs inside Spark tasks and inside the sequential test
  * oracle, so signatures are bit-identical between the two.
  */
object Hash64 {
  private val P1 = 0x9e3779b185ebca87L
  private val P2 = 0xc2b2ae3d27d4eb4fL
  private val P3 = 0x165667b19e3779f9L
  private val P4 = 0x85ebca77c2b2ae63L
  private val P5 = 0x27d4eb2f165667c5L

  private def rotl(x: Long, r: Int): Long = java.lang.Long.rotateLeft(x, r)

  private def round(acc: Long, input: Long): Long =
    rotl(acc + input * P2, 31) * P1

  private def mergeRound(acc: Long, v: Long): Long =
    (acc ^ round(0L, v)) * P1 + P4

  private def le64(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | (b(i + 1) & 0xffL) << 8 | (b(i + 2) & 0xffL) << 16 |
      (b(i + 3) & 0xffL) << 24 | (b(i + 4) & 0xffL) << 32 |
      (b(i + 5) & 0xffL) << 40 | (b(i + 6) & 0xffL) << 48 |
      (b(i + 7) & 0xffL) << 56

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | (b(i + 1) & 0xffL) << 8 | (b(i + 2) & 0xffL) << 16 |
      (b(i + 3) & 0xffL) << 24

  /** xxHash64 over bytes [off, off+len). */
  def hashBytes(b: Array[Byte], off: Int, len: Int, seed: Long): Long = {
    var h: Long = 0L
    var i = off
    val end = off + len
    if (len >= 32) {
      var v1 = seed + P1 + P2
      var v2 = seed + P2
      var v3 = seed
      var v4 = seed - P1
      val limit = end - 32
      while (i <= limit) {
        v1 = round(v1, le64(b, i))
        v2 = round(v2, le64(b, i + 8))
        v3 = round(v3, le64(b, i + 16))
        v4 = round(v4, le64(b, i + 24))
        i += 32
      }
      h = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
      h = mergeRound(h, v1)
      h = mergeRound(h, v2)
      h = mergeRound(h, v3)
      h = mergeRound(h, v4)
    } else {
      h = seed + P5
    }
    h += len
    while (i + 8 <= end) {
      h = rotl(h ^ round(0L, le64(b, i)), 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= end) {
      h = rotl(h ^ (le32(b, i) * P1), 23) * P2 + P3
      i += 4
    }
    while (i < end) {
      h = rotl(h ^ ((b(i) & 0xffL) * P5), 11) * P1
      i += 1
    }
    h ^= h >>> 33
    h *= P2
    h ^= h >>> 29
    h *= P3
    h ^= h >>> 32
    h
  }

  def hashBytes(b: Array[Byte], seed: Long): Long = hashBytes(b, 0, b.length, seed)

  /** xxHash64 of a single long (8-byte little-endian input per spec). */
  def hashLong(v: Long, seed: Long): Long = {
    var h = seed + P5 + 8L
    h = rotl(h ^ round(0L, v), 27) * P1 + P4
    h ^= h >>> 33
    h *= P2
    h ^= h >>> 29
    h *= P3
    h ^= h >>> 32
    h
  }

  def hashString(s: String, seed: Long = 0L): Long =
    hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), seed)

  /** Per-codepoint UTF-8 byte offsets (length n+1; offsets(n) = total
    * encoded length). With the document encoded ONCE, the UTF-8 bytes of
    * the g-codepoint window starting at codepoint i are exactly
    * bytes[offsets(i), offsets(i+g)) — so rolling-gram hashing
    * (`hashString(new String(cps, i, g))`, one String + one encode per
    * position) reduces to `hashBytes(bytes, off(i), off(i+g)-off(i))`
    * with zero per-position allocation and bit-identical values. An
    * unpaired surrogate (0xD800–0xDFFF) counts 1 byte: `getBytes(UTF_8)`
    * replaces it with `?`.
    */
  def utf8Offsets(cps: Array[Int]): Array[Int] = {
    val off = new Array[Int](cps.length + 1)
    var i = 0
    while (i < cps.length) {
      val c = cps(i)
      off(i + 1) = off(i) +
        (if (c < 0x80) 1 else if (c < 0x800) 2
         else if (c >= 0xD800 && c <= 0xDFFF) 1
         else if (c < 0x10000) 3 else 4)
      i += 1
    }
    off
  }

  /** Stable 64-bit file id over the corpus primary key (repo,path,commit).
    * 64 bits suffice for test scales; at 10^12 files switch to the 128-bit
    * variant (two independent seeds) to keep collision odds negligible.
    */
  def fileId(repo: String, path: String, commit: String): Long =
    hashString(repo + "\u0000" + path + "\u0000" + commit, 0x5eedL)
}
