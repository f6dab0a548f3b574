package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.DedupPipeline

/** Distributed GENERALIZED SUFFIX ARRAY by prefix doubling — the literal
  * "suffix-array substring matching" structure (Lee et al. 2021 build it
  * single-node per shard; Flick & Aluru, SC'15, give the distributed
  * sort-based formulation this follows), re-expressed Spark-first: no
  * suffix string is ever materialized or shuffled — only (doc, pos,
  * rank) triples — and every global rank is one run count of
  * [[graft.pipeline.DedupPipeline.segmentedScan]], never a global window.
  *
  * Semantics: ranks all suffixes of all documents in one global
  * lexicographic order (codepoint order — identical to UTF-8 byte order,
  * which is what SQL binary collation compares). Suffixes never cross
  * document boundaries; identical suffixes from different documents (or
  * positions) share a DENSE rank, exactly `dense_rank() OVER (ORDER BY
  * suffix)` — which is how DuckDB replays the whole structure for the
  * `d_suffix_rank` oracle.
  *
  * Algorithm: the stats pass that finds the longest document also finds
  * the largest codepoint, which fixes a fixed-width packing ((cp+1) in
  * bits = ⌈log2(maxCp+2)⌉, ⌊63/bits⌋ codepoints per 63-bit sort key,
  * 0-padded past the suffix end so a suffix that is a prefix of a longer
  * one sorts first; [[explodePacked]]). The base rank orders by the first
  * c1+c2 codepoints the two keys hold: 18 on an ASCII corpus, 6 on an
  * astral one, so prefixRanks(16) on ASCII needs no doubling round. Each
  * later round re-keys every suffix by (rank_cover(pos), rank_cover(pos+s)
  * or 0) with shift s = min(cover, limit−cover) — 0 for "suffix ends
  * within s" sorts first — and re-densifies, so the loop lands on `limit`
  * exactly (bounded prefixRanks tie on true L-prefix equality) and ranks
  * order by the full suffix once cover ≥ limit. Ties that survive all
  * rounds are genuinely identical suffixes. Two early exits, both read
  * off the scan's summary totals (no extra job): all ranks distinct, or a
  * FIXED POINT — the distinct-rank count did not grow in a round, so no
  * class split occurred; equal keys chain r(p+m·s) = r(q+m·s) for every m
  * (s ≤ cover), which pins every codepoint of both suffixes, hence no
  * class can ever split again.
  *
  * Scale shape: the initial explode is one 24-byte row per text
  * codepoint (the suffix array is Θ(corpus length) by definition — the
  * same inherent volume [[graft.queries.SpanQueries.dDupSpans]] documents); each
  * round is ONE doc-keyed hash join (the rank(pos+k) shift) + ONE
  * segmented scan (range partition, in-partition sort, a summary job
  * and a lazy rank pass from broadcast per-partition offsets).
  * Per-round lineage is truncated by localCheckpoint (the
  * iterative-join rule [[graft.pipeline.ConnectedComponents]] follows;
  * blocks are MEMORY_AND_DISK, so storage pressure spills rather than
  * losing truncated lineage). Rounds ≤ log2(max document length / base
  * cover) + 1 — 9 for 4k-char ASCII source files — independent of corpus
  * size, so the 100 TB
  * cost is ~18 shuffles of Θ(corpus) fixed-width rows: heavy but exactly
  * the published distributed-SA cost, and the reason the gram-sketch
  * passes (`d_dup_spans`, `d_winnow`) exist as the cheaper defaults.
  */
object SuffixArray {

  /** (doc_id: Long, text: String) → (doc_id, pos, srank): 1-based
    * codepoint position (SQL substr coordinates) and the dense global
    * suffix rank.
    */
  def ranks(docs: DataFrame): DataFrame = doubling(docs, Long.MaxValue)

  /** Ranks ordered by only the first L codepoints (L a power of two):
    * the doubling loop stops once the order covers L — so positions with
    * ≥ L codepoints remaining share a rank iff their first L codepoints
    * are identical (shorter suffixes rank by their full content,
    * termination-first, as in [[ranks]]). This is the exact,
    * collision-free form of the hashed 16-cp grams the sketch passes
    * ([[graft.queries.SpanQueries.dDupSpans]]) key on: ≤ 1+log2(L) bounded shuffle
    * rounds, Θ(corpus) fixed-width rows. The early exits remain sound
    * here: at a fixed point the partition can never split again, so the
    * partition at cover L equals the partition already reached.
    */
  def prefixRanks(docs: DataFrame, L: Long): DataFrame = {
    require(L >= 1 && (L & (L - 1)) == 0, s"L must be a power of two, got $L")
    doubling(docs, L)
  }

  /** The doubling loop of the object doc, covering min(bound, maxLen)
    * codepoints. */
  private def doubling(docs: DataFrame, bound: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // one stats pass over the text: longest doc (codepoints) AND largest
    // codepoint — the former SQL max(length()) scan read the same bytes
    val stats = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        var ml = 0L; var mc = 0
        it.foreach { case (_, t) =>
          var i = 0; var n = 0L
          while (i < t.length) {
            val cp = t.codePointAt(i)
            if (cp > mc) mc = cp
            i += Character.charCount(cp); n += 1
          }
          if (n > ml) ml = n
        }
        Iterator.single((ml, mc))
      }
      .collect()
    val maxLen = if (stats.isEmpty) 0L else stats.map(_._1).max
    val maxCp = if (stats.isEmpty) 0 else stats.map(_._2).max
    val limit = math.min(bound, maxLen)
    val bits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(maxCp + 1L))
    val perKey = math.max(1L, 63L / bits)
    // never pack more than `limit` codepoints in total — prefixRanks(L)
    // must tie on EXACTLY the first L codepoints
    val c1 = math.min(perKey, math.max(1L, limit)).toInt
    val c2 = math.min(perKey, math.max(0L, limit - c1)).toInt
    val rows = explodePacked(docs, c1, c2, bits)
    var (cur, nd, nRows) = denseRankSorted(rows) // rank over first c1+c2 cps
    var cover = (c1 + c2).toLong
    var done = cover >= limit || nd == nRows
    while (!done) {
      val s = math.min(cover, limit - cover)
      val shifted = cur.select(col("doc_id"),
        (col("pos") - s).as("pos"), col("srank").as("r2"))
      // no join hint: AQE broadcasts the shifted side when a round's rank
      // table is small and falls back to sort-merge when it is not — a
      // forced SHUFFLE_HASH was measured to block the broadcast case
      val keyed = cur.join(shifted,
          Seq("doc_id", "pos"), "left")
        .na.fill(0L, Seq("r2"))
        .select(col("doc_id"), col("pos"),
          col("srank").as("_k1"), col("r2").as("_k2"))
      val (cur2, nd2, _) = denseRankSorted(keyed)
      cur = cur2
      cover += s
      done = cover >= limit || nd2 == nRows || nd2 == nd // distinct | fixed point
      nd = nd2
    }
    cur
  }

  /** (doc_id, text) → one (doc_id, pos, _k1, _k2) row per codepoint
    * position: _k1 packs codepoints [pos, pos+c1) and _k2 packs
    * [pos+c1, pos+c1+c2), each codepoint as (cp+1) in `bits` bits
    * (big-endian within the long, 0-padded past the suffix end), so
    * (_k1, _k2) sorts exactly like the first c1+c2 codepoints with
    * shorter-suffix-first termination. Caller guarantees every
    * codepoint + 1 fits in `bits` bits and ci·bits ≤ 63.
    */
  private[graft] def explodePacked(docs: DataFrame, c1: Int, c2: Int,
      bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 21, s"bad pack width $bits")
    require(c1 >= 1 && c1 * bits <= 63 && c2 >= 0 && c2 * bits <= 63,
      s"bad pack $c1/$c2 at $bits bits")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val cps = text.codePoints().toArray
        val n = cps.length
        def pack(from: Int, width: Int): Long = {
          var acc = 0L; var j = 0
          while (j < width) {
            val v = if (from + j < n) (cps(from + j) + 1).toLong else 0L
            acc = (acc << bits) | v
            j += 1
          }
          acc
        }
        Iterator.tabulate(n) { i =>
          (id, (i + 1).toLong, pack(i, c1), pack(i + c1, c2))
        }
      }
      .toDF("doc_id", "pos", "_k1", "_k2")
  }

  /** Dense global rank of (_k1, _k2), ascending: one segmented scan
    * counting key changes over the single stream of all rows, into a
    * fixed `spark.sql.shuffle.partitions` ranges. The summary job's totals
    * are the loop's convergence signal, free. Returns ((doc_id, pos,
    * srank), total distinct keys, total rows).
    */
  private[graft] def denseRankSorted(keyed: DataFrame): (DataFrame, Long, Long) = {
    val (ranked, rows, distinct) = DedupPipeline.segmentedScan(
      keyed.select(col("doc_id"), col("pos"), col("_k1"), col("_k2")),
      None, Seq("_k1", "_k2"),
      Some(keyed.sparkSession.sessionState.conf.numShufflePartitions),
      DedupPipeline.RunCount(Seq("_k1", "_k2"), "_new", "srank"))
    (ranked.select(col("doc_id"), col("pos"), col("srank")), distinct, rows)
  }
}
