package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed GENERALIZED SUFFIX ARRAY by prefix doubling — the literal
  * "suffix-array substring matching" structure (Lee et al. 2021 build it
  * single-node per shard; Flick & Aluru, SC'15, give the distributed
  * sort-based formulation this follows), re-expressed Spark-first: no
  * suffix string is ever materialized or shuffled — only (doc, pos,
  * rank) triples — and every global rank is a two-phase range-partition
  * + O(partitions) offset broadcast (the
  * [[graft.pipeline.DedupPipeline.streamPrefix]] pattern inlined over
  * sorted partitions), never a global window.
  *
  * Semantics: ranks all suffixes of all documents in one global
  * lexicographic order (codepoint order — identical to UTF-8 byte order,
  * which is what SQL binary collation compares). Suffixes never cross
  * document boundaries; identical suffixes from different documents (or
  * positions) share a DENSE rank, exactly `dense_rank() OVER (ORDER BY
  * suffix)` — which is how DuckDB replays the whole structure for the
  * `d_suffix_rank` oracle.
  *
  * Algorithm: the base rank orders by the first 2·⌊63/bits⌋ codepoints —
  * bits = ⌈log2(maxCp+2)⌉, codepoints packed fixed-width into the two
  * 63-bit sort keys (see [[explodePacked]]; r6 — 18 codepoints on an
  * ASCII corpus, replacing the one-codepoint base plus four doubling
  * rounds); each later round re-keys
  * every suffix by (rank_cover(pos), rank_cover(pos+s) or 0) with shift
  * s = min(cover, limit−cover) — 0 for "suffix ends within s" sorts
  * first, shorter-prefix-first — and re-densifies; once cover ≥ limit
  * ranks order by the full suffix (the variable shift lands on `limit`
  * exactly, so bounded prefixRanks tie on true L-prefix equality). Ties
  * that survive all rounds are genuinely identical suffixes. Two early
  * exits, both read off the rank pass's own stats (no extra job): all
  * ranks distinct, or a FIXED POINT — the distinct-rank count did not
  * grow in a round, so no class split occurred; equal keys chain
  * r(p+m·s) = r(q+m·s) for every m, which pins every codepoint of both
  * suffixes, hence no class can ever split again.
  *
  * Scale shape: the initial explode is one 24-byte row per text
  * codepoint (the suffix array is Θ(corpus length) by definition — the
  * same inherent volume [[graft.queries.SpanQueries.dDupSpans]] documents); each
  * round is ONE doc-keyed hash join (the rank(pos+k) shift) + ONE range
  * partition with in-partition sort whose two mapPartitions passes
  * assign dense ranks from broadcast per-partition offsets (equal keys
  * land in one partition under RangePartitioner, so offsets are exact).
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

  /** The doubling loop, covering min(bound, maxLen) codepoints.
    *
    * r6 optimization, two parts, both order-preserving so the final dense
    * ranks are UNCHANGED:
    *  - ADAPTIVE WIDE BASE: the stats pass that finds the longest
    *    document also finds the largest codepoint, which fixes a
    *    fixed-width packing — (cp+1) in bits = ⌈log2(maxCp+2)⌉, 63/bits
    *    codepoints per 63-bit sort key, 0-padded past the suffix end so a
    *    shorter suffix that is a prefix of a longer one still sorts
    *    first. Lexicographic order on the two packed longs equals
    *    codepoint order, so an ASCII corpus (7 bits/cp → 9 cps/key) gets
    *    rank_18 from ONE range-sort — the former one-codepoint base plus
    *    FOUR doubling rounds — and even an astral-codepoint corpus
    *    (21 bits) still gets rank_6. prefixRanks(16) on ASCII needs ZERO
    *    doubling rounds (c1 = 9, c2 = 7 lands exactly).
    *  - EXACT LANDING: a round may shift by any s ≤ cover (key
    *    (rank_cover(pos), rank_cover(pos+s)) orders by the first cover+s
    *    codepoints), so the loop lands on `limit` exactly instead of
    *    overshooting to the next power of two. The fixed-point exit stays
    *    sound for s < cover: equal keys chain r(p+m·s) = r(q+m·s) for all
    *    m, which pins every codepoint of both suffixes.
    */
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

  /** (doc_id, text) → one (doc_id, pos, cp) row per codepoint; pos is
    * 1-based in codepoint coordinates (SQL substr semantics).
    */
  private[graft] def explodeCodepoints(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val cps = text.codePoints().toArray
        Iterator.tabulate(cps.length)(i => (id, (i + 1).toLong, cps(i).toLong))
      }
      .toDF("doc_id", "pos", "cp")
  }

  /** Dense global rank of (_k1, _k2), ascending: range-partition + sort
    * within partitions (equal keys share a partition, so per-partition
    * distinct-key counts compose exactly), one checkpointed
    * materialization, then a stats pass (per-partition rows + distinct
    * keys → broadcast offsets — also the loop's convergence signal,
    * free) and a lazy map pass assigning `srank`. Returns
    * ((doc_id, pos, srank), total distinct keys, total rows).
    */
  private[graft] def denseRankSorted(keyed: DataFrame): (DataFrame, Long, Long) = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    // The range-partition id is FROZEN into the checkpointed rows
    // (spark_partition_id() evaluated at materialization, above the
    // sort): the lazy rank pass below reads it from the row, never from
    // TaskContext — a downstream coalesce() merges parent partitions
    // into one task and would otherwise feed every parent offset 0.
    // LAZY localCheckpoint (r6): the stats pass below is the first action
    // and scans every partition exactly once, so it materializes the
    // checkpoint blocks AND collects the stats in ONE job — the eager
    // form paid a separate materialization job per doubling round.
    val sorted = keyed
      .select(col("doc_id"), col("pos"), col("_k1"), col("_k2"))
      .repartitionByRange(p, col("_k1"), col("_k2"))
      .sortWithinPartitions(col("_k1"), col("_k2"))
      .withColumn("_pid", spark_partition_id().cast("long"))
      .as[(Long, Long, Long, Long, Long)]
      .localCheckpoint(eager = false)
    val stats = sorted.mapPartitions { it =>
      var pid = -1L; var n = 0L; var d = 0L
      var pk1 = 0L; var pk2 = 0L; var first = true
      while (it.hasNext) {
        val r = it.next(); n += 1; pid = r._5
        if (first || r._3 != pk1 || r._4 != pk2) { d += 1; first = false }
        pk1 = r._3; pk2 = r._4
      }
      if (n == 0) Iterator.empty else Iterator.single((pid, n, d))
    }.collect().sortBy(_._1)
    var cum = 0L; var rowsTotal = 0L
    val offsets = stats.map { case (pid, n, d) =>
      val o = pid -> cum; cum += d; rowsTotal += n; o
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val ranked = sorted.mapPartitions { it =>
      var curPid = -1L; var rank = 0L
      var pk1 = 0L; var pk2 = 0L; var first = true
      it.map { r =>
        if (r._5 != curPid) { curPid = r._5; rank = bc.value(curPid); first = true }
        if (first || r._3 != pk1 || r._4 != pk2) { rank += 1; first = false }
        pk1 = r._3; pk2 = r._4
        (r._1, r._2, rank)
      }
    }.toDF("doc_id", "pos", "srank")
    (ranked, cum, rowsTotal)
  }
}
