package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import QuerySupport._

/** Exact duplicate spans over `documents`: 16-gram islands, suffix ranks,
  * span trimming, cross-document span pairs, decontamination and LCS.
  */
object SpanQueries {

  /** Minimum duplicated-span gram width in CODE POINTS: any substring of
    * at least this length occurring twice anywhere in the corpus
    * (including twice within one document) is detected, and overlapping /
    * adjacent duplicated grams merge into maximal spans.
    */
  private val DupSpanGram = 16

  /** (hash64(gram), doc_id, 1-based cp position) rows for every
    * [[DupSpanGram]]-cp window of every document — the shared map-only
    * scan under [[dDupSpans]] and [[dDupSpanPairs]].
    */
  private def dupGramOcc(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import spark.implicits._
    val G = DupSpanGram
    par(spark, t(spark, dir, "documents").filter(length(col("text")) >= G)
        .select(col("doc_id"), col("text")), "doc_id").as[(Long, String)]
      .flatMap { case (id, text) =>
        // windows of G CODE POINTS (SQL substr semantics — Java substring
        // counts UTF-16 units and would diverge on non-BMP text). Hashed
        // over byte slices of ONE per-doc UTF-8 encode (bit-identical to
        // hashString of the gram string — r6 per-task optimization: the
        // former String + encode per position dominated the map stage).
        val cps = text.codePoints().toArray
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val off = graft.functions.Hash64.utf8Offsets(cps)
        val n = cps.length - (G - 1)
        Iterator.tabulate(n) { i =>
          (graft.functions.Hash64.hashBytes(bytes, off(i), off(i + G) - off(i), 0L),
            id, (i + 1).toLong)
        }
      }
  }

  /** Gaps-and-islands merge shared by [[dupSpanRows]] and
    * [[dDupSpanPairs]] (the gap rule is oracle-bearing, so the walk lives
    * in exactly one place — the [[pairContrib]] precedent): sorts the
    * positions in place, then emits one (runStart, runLastPos, runGrams)
    * per maximal run where consecutive kept positions are ≤ maxGap apart.
    */
  private def mergeRuns[T](pos: Array[Long], maxGap: Long)(
      emit: (Long, Long, Long) => T): Iterator[T] = {
    java.util.Arrays.sort(pos)
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    var start = pos(0); var last = pos(0); var grams = 1L
    var i = 1
    while (i < pos.length) {
      val p = pos(i)
      if (p - last <= maxGap) { last = p; grams += 1 }
      else {
        out += emit(start, last, grams)
        start = p; last = p; grams = 1L
      }
      i += 1
    }
    out += emit(start, last, grams)
    out.iterator
  }

  /** Corpus-level EXACT duplicate-span detection — the distributed analog
    * of suffix-array exact-substring dedup over training corpora (the
    * ExactSubstr pass of Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): each row (doc_id, span_start,
    * span_len, dup_grams) is a maximal run of code points every one of
    * which is covered by a [[DupSpanGram]]-gram occurring ≥2 times
    * corpus-wide (grams ≤ G apart merge, so a span may bridge ≤G-cp gaps
    * between duplicated grams), positions 1-based in code points (SQL
    * substr coordinates). A suffix array is a sequential data structure;
    * the Spark-first shape is (1) a map-only rolling gram scan emitting
    * (hash64(gram), doc, pos) occurrence rows — 8-byte keys, the gram
    * text never shuffles; (2) ONE gram-keyed shuffle where an O(1)-state
    * peek-one flatMapGroups keeps exactly the occurrences of duplicated
    * grams (a boilerplate gram with 10^9 occurrences streams through —
    * never buffered, never dropped: unlike the pair queries there is no
    * quadratic fan-out to cap, output ≤ input); (3) a per-document
    * interval merge whose state is bounded by the document's own position
    * count (a file, not the corpus — the same per-doc bound [[dWinnow]]'s
    * sketch arrays carry). Occurrence volume is ~1 row per text byte,
    * inherent to EXACT substring dedup (the suffix array is the same
    * size); [[dWinnow]] is the sub-linear sketch alternative when
    * exactness can be traded. Gram equality is by xxhash64 (collision
    * odds at 2^64 negligible; the DuckDB oracle replays with true string
    * grams and stays green).
    */
  private def dupSpanRows(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] = {
    import spark.implicits._
    val G = DupSpanGram
    val dupPos = dupGramOcc(spark, dir).groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Long)]) =>
        val first = it.next()
        if (it.hasNext) Iterator.single(first) ++ it else Iterator.empty
      }
      .map(r => (r._2, r._3))
    dupPos.groupByKey(_._1)
      .flatMapGroups { (id: Long, it: Iterator[(Long, Long)]) =>
        // intervals [p, p+G) merge when the gap to the previous kept
        // position is ≤ G (overlap or exact adjacency)
        mergeRuns(it.map(_._2).toArray, G) { (start, last, grams) =>
          (id, start, last + G - start, grams)
        }
      }
  }

  def dDupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpanRows(spark, dir)
      .toDF("doc_id", "span_start", "span_len", "dup_grams")

  /** Per-document duplicate-coverage report over [[dDupSpans]]: span
    * count, duplicated code points, document length and the duplicated
    * fraction — the curation signal exact-substring dedup feeds (drop or
    * trim documents whose text is mostly corpus-duplicated). Every
    * document ≥ [[DupSpanGram]] code points gets a row (zero spans → zero
    * coverage).
    */
  def dDupSpanStats(spark: SparkSession, dir: String): DataFrame = {
    val agg = dDupSpans(spark, dir).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("dup_chars"))
    t(spark, dir, "documents")
      .filter(length(col("text")) >= DupSpanGram)
      .select(col("doc_id"), length(col("text")).cast("long").as("char_len"))
      .join(agg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "dup_chars"))
      // Duplicated fraction in integer PARTS-PER-MILLION via exact
      // round-half-up long division ((2a·10^6 + b) div 2b) — the
      // micro-unit rule (e_lsh_buckets/e_pq_adc): a raw round(double, 6)
      // is value-equal but not bit-stable across engines (Spark BigDecimal
      // HALF_UP vs DuckDB double round differ in the last ULP), which
      // kills the driver's hash even when every printed value matches.
      .withColumn("dup_ppm",
        expr("(dup_chars * 2000000 + char_len) div (2 * char_len)"))
      .select(col("doc_id"), col("n_spans"), col("dup_chars"),
        col("char_len"), col("dup_ppm"))
  }

  /** WITHIN-document repetitiveness — the self-analog of [[dDupSpans]]
    * and the Gopher-style "repeated n-gram fraction" curation signal
    * (Rae et al. 2021 §A1.1 drop documents whose own text is mostly
    * internal repetition; boilerplate/generated files score high before
    * any corpus-level pass sees them): per document, the coverage of
    * maximal runs of [[DupSpanGram]]-cp grams occurring ≥2 times WITHIN
    * that document (same G-gap merge rule as the corpus-level spans, so
    * the two fractions are directly comparable). Output one row per doc
    * ≥G cp: (doc_id, rep_spans, rep_chars, char_len, rep_ppm).
    *
    * Scale: strictly MAP-ONLY — gram counting, position filtering and
    * the interval merge all happen inside one pass over the document in
    * its own partition; the text never shuffles and there is no
    * corpus-wide key at all (the one shape that is trivially 100 TB-safe;
    * state is bounded by the longest single document, as every per-doc
    * fold here is).
    */
  def dSelfRep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val G = DupSpanGram
    // par(): the fixture table is ONE scan split, and this map pass (gram
    // hash + count per position) is the whole query — unparallelized it
    // ran on a single core (r6 measurement)
    par(spark, t(spark, dir, "documents")
        .select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .map { case (id, text) =>
        val cps = text.codePoints().toArray
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val off = graft.functions.Hash64.utf8Offsets(cps)
        val n = cps.length - (G - 1)
        if (n < 1) (id, -1L, 0L, cps.length.toLong)
        else {
          val counts = new java.util.HashMap[Long, Integer]()
          val hs = new Array[Long](n)
          var i = 0
          while (i < n) {
            val h = graft.functions.Hash64.hashBytes(
              bytes, off(i), off(i + G) - off(i), 0L)
            hs(i) = h
            counts.merge(h, Integer.valueOf(1),
              (a, b) => Integer.valueOf(a.intValue + b.intValue))
            i += 1
          }
          val pos = scala.collection.mutable.ArrayBuffer.empty[Long]
          i = 0
          while (i < n) {
            if (counts.get(hs(i)).intValue >= 2) pos += (i + 1).toLong
            i += 1
          }
          if (pos.isEmpty) (id, 0L, 0L, cps.length.toLong)
          else {
            var spans = 0L; var covered = 0L
            mergeRuns(pos.toArray, G.toLong) { (start, last, _) =>
              spans += 1; covered += last + G - start
            }.foreach(_ => ())
            (id, spans, covered, cps.length.toLong)
          }
        }
      }
      .toDF("doc_id", "rep_spans", "rep_chars", "char_len")
      .filter(col("rep_spans") >= 0L) // docs shorter than G carry no signal
      // Integer ppm, exact half-up division — see dDupSpanStats.
      .withColumn("rep_ppm",
        expr("(rep_chars * 2000000 + char_len) div (2 * char_len)"))
  }

  /** Distributed generalized SUFFIX ARRAY over a deterministic 1/16
    * corpus slice (docs whose md5 leading nibble is '0' — the
    * [[dDecontam]] split idiom; the slice keeps the driver artifact
    * Θ(slice text) while the algorithm itself is corpus-agnostic):
    * one (doc_id, pos, srank) row per suffix, srank = the DENSE global
    * lexicographic rank — literally `dense_rank() OVER (ORDER BY
    * suffix)`, which is the DuckDB oracle verbatim. Built by
    * [[graft.operators.SuffixArray.ranks]] prefix doubling: log(maxLen)
    * rounds of fixed-width-row shuffles + the two-phase global rank, no
    * windows, no suffix strings shuffled. See the scaladoc there for the
    * 100 TB cost statement (Θ(corpus)·log(maxLen) — the exactness price
    * the gram sketches avoid).
    */
  def dSuffixRank(spark: SparkSession, dir: String): DataFrame = {
    val d = par(spark, t(spark, dir, "documents")
      .filter(col("text").isNotNull &&
        substring(md5(col("text").cast("binary")), 1, 1) === "0")
      .select(col("doc_id"), col("text")), "doc_id")
    graft.operators.SuffixArray.ranks(d)
      .select(col("doc_id"), col("pos"), col("srank"))
  }

  /** EXACT 16-cp-gram duplicate statistics via bounded suffix-array
    * prefix ranks — the collision-FREE cross-check of the hashed-gram
    * surface ([[dDupSpans]] keys on 64-bit gram hashes; this keys on
    * true prefix equality): [[graft.operators.SuffixArray.prefixRanks]]
    * covers exactly 16 codepoints (≤ a handful of adaptive-packed rank
    * rounds; ONE on an ASCII corpus) so positions with ≥16 codepoints
    * remaining share `srank` iff their 16-cp grams are byte-identical.
    * Per doc (slice docs with ≥16 cps): total gram positions, positions
    * whose gram recurs anywhere in the slice, and positions whose gram
    * appears in ≥2 distinct docs. Same 1/16 md5 corpus slice as
    * [[dSuffixRank]]. Plan: the bounded doubling rounds, one rank-keyed
    * class-stats agg, one rank join-back, one doc-keyed agg — all
    * fixed-width rows, no windows, no text shuffled past the explode.
    */
  def dSaGramStats(spark: SparkSession, dir: String): DataFrame = {
    val d = par(spark, t(spark, dir, "documents")
      .filter(col("text").isNotNull &&
        substring(md5(col("text").cast("binary")), 1, 1) === "0")
      .select(col("doc_id"), col("text")), "doc_id")
    val lens = d.select(col("doc_id"), length(col("text")).as("char_len"))
      .filter(col("char_len") >= 16)
    val pos16 = graft.operators.SuffixArray.prefixRanks(d, 16L)
      .join(lens, "doc_id")
      .filter(col("pos") <= col("char_len") - 15)
    val cls = pos16.groupBy("srank")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"))
    pos16.join(cls, "srank")
      .groupBy("doc_id", "char_len")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("dup_grams"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("xdoc_grams"))
  }

  /** The trim ACTION of exact-substring dedup (the step Lee et al. 2021
    * apply after detection): every [[dDupSpans]] span is cut out of its
    * document and the surviving text is reported as (doc_id, char_len,
    * kept_len, dup_chars, kept_md5) — md5 instead of the text itself so
    * the corpus-sized output stays narrow (the same reason the dedup
    * pipeline ships digests, not content). This is the aggressive
    * variant that removes EVERY occurrence of a duplicated span (the
    * survivor-election variant needs a global choice per span family —
    * that is [[dExactDedup]]'s keep-first semantics at document
    * granularity); spans may bridge ≤G-cp gaps per the [[dupSpanRows]]
    * merge, and those bridge characters trim with the span. Shape: span
    * rows (tiny — one per maximal span) group per doc, then ONE
    * doc-keyed join back to the text and a map-side cut + md5; the kept
    * text never shuffles.
    */
  def dDupTrim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = dupSpanRows(spark, dir)
      .groupByKey(_._1)
      .mapGroups { (id: Long, it: Iterator[(Long, Long, Long, Long)]) =>
        val arr = it.map(r => (r._2, r._3)).toArray
        scala.util.Sorting.quickSort(arr)
        (id, arr.map(_._1), arr.map(_._2))
      }
      .toDF("doc_id", "starts", "lens")
    t(spark, dir, "documents")
      .filter(length(col("text")) >= DupSpanGram)
      .select(col("doc_id"), col("text"))
      .join(spans, Seq("doc_id"), "left")
      .as[(Long, String, Option[Seq[Long]], Option[Seq[Long]])]
      .map { case (id, text, so, lo) =>
        val cps = text.codePoints().toArray
        val starts = so.getOrElse(Seq.empty)
        val lens = lo.getOrElse(Seq.empty)
        val sb = new java.lang.StringBuilder
        var cur = 0 // 0-based next cp; spans are disjoint and sorted
        var i = 0
        while (i < starts.length) {
          val s0 = (starts(i) - 1).toInt
          if (s0 > cur) sb.append(new String(cps, cur, s0 - cur))
          cur = s0 + lens(i).toInt
          i += 1
        }
        if (cur < cps.length) sb.append(new String(cps, cur, cps.length - cur))
        val kept = sb.toString
        (id, cps.length.toLong,
          kept.codePointCount(0, kept.length).toLong, kept)
      }
      .toDF("doc_id", "char_len", "kept_len", "kept_text")
      .select(col("doc_id"), col("char_len"), col("kept_len"),
        (col("char_len") - col("kept_len")).as("dup_chars"),
        md5(col("kept_text").cast("binary")).as("kept_md5"))
  }

  /** Occurrence cap for [[dDupSpanPairs]]: grams whose TOTAL corpus
    * occurrence count exceeds this are boilerplate and contribute no
    * cross-document matches (stream-drained, never buffered — the same
    * overflow pattern as [[pairContrib]]). The cap is oracle-bearing:
    * the DuckDB replay applies `HAVING count(*) <= 32` identically.
    */
  private val DupPairOccCap = 32

  /** Cross-document EXACT shared-substring runs — the pair-level output
    * of suffix-array substring matching (clone detection over source
    * code): for every unordered doc pair (a < b), every maximal run of
    * consecutive shared [[DupSpanGram]]-grams on one alignment diagonal
    * is one row (a, b, a_start, b_start, run_grams, run_len) — a run of
    * k grams is a shared exact substring of k+G-1 code points starting
    * at a_start in a and b_start in b (1-based cp positions). Where
    * [[dDupSpans]] answers "which of MY text is duplicated anywhere",
    * this answers "which doc pairs share exact spans, and where" — the
    * candidate-pair input near-dup clustering verifies.
    *
    * Scale shape: the [[dupGramOcc]] map-only scan feeds ONE gram-keyed
    * shuffle whose per-group state is bounded at [[DupPairOccCap]]+1
    * occurrences (hot boilerplate grams stream-drain and drop — no
    * quadratic fan-out on skew); match rows then take ONE
    * (a,b,diagonal)-keyed shuffle whose group state is bounded by the
    * positions the two docs share on one diagonal (≤ the smaller doc's
    * gram count — a file, not the corpus). Runs never cross diagonals,
    * so the tighter (a,b,diag) key beats an (a,b) key for free.
    */
  def dDupSpanPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val G = DupSpanGram
    val matches = dupGramOcc(spark, dir).groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Long)]) =>
        val occ = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var overflow = false
        while (it.hasNext && !overflow) {
          val r = it.next()
          occ += ((r._2, r._3))
          if (occ.size > DupPairOccCap) overflow = true
        }
        if (overflow) Iterator.empty
        else for {
          i <- occ.indices.iterator
          j <- occ.indices.iterator
          if occ(i)._1 < occ(j)._1 // cross-doc, unordered pair a < b
        } yield {
          val (a, pa) = occ(i); val (b, pb) = occ(j)
          (a, b, pb - pa, pa)
        }
      }
    matches.groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroups { (key: (Long, Long, Long), it: Iterator[(Long, Long, Long, Long)]) =>
        val (a, b, diag) = key
        // only consecutive gram positions (step 1 = maxGap 1) extend the
        // exact run; anything larger breaks it (unlike dDupSpans' ≤G
        // merge, a PAIR run must be contiguous in BOTH docs to be one
        // shared substring)
        mergeRuns(it.map(_._4).toArray, 1L) { (start, _, grams) =>
          (a, b, start, start + diag, grams, grams + G - 1)
        }
      }
      .toDF("a", "b", "a_start", "b_start", "run_grams", "run_len")
  }

  /** Eval-set decontamination — the benchmark-overlap gate every training
    * corpus needs: a deterministic held-out slice (docs whose md5 leading
    * nibble ∈ {0,1}, ~1/8 of the corpus — in production this is the
    * benchmark table) contributes its distinct 8-token shingles (tokens =
    * `[A-Za-z0-9_]+` runs, joined by a single space — tokens cannot
    * contain spaces, so the join is injective); every TRAINING document
    * reports how many of its distinct shingles appear anywhere in the
    * eval set, plus the contaminated flag. Shingles shuffle as 8-byte
    * xxhash64 keys; the eval side is distinct-reduced before the
    * left-semi match, so at scale it is benchmark-sized and AQE
    * broadcasts it while the training side's single shuffle stays keyed
    * on the hash. Output covers training docs with ≥1 shingle (≥8
    * tokens).
    */
  def dDecontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = 8
    // null-text rows contribute nothing either way (the oracle's NULL
    // is_eval fails both WHERE branches); without the guard they would
    // crash typed deserialization into the non-nullable tuple
    val d = par(spark, t(spark, dir, "documents")
        .filter(col("text").isNotNull), "doc_id")
      .select(col("doc_id"),
        expr("regexp_extract_all(text, '[A-Za-z0-9_]+', 0)").as("ts"),
        substring(md5(col("text").cast("binary")), 1, 1)
          .isin("0", "1").as("is_eval"))
    val sh = d.as[(Long, Seq[String], Boolean)]
      .flatMap { case (id, toks, ev) =>
        // per-doc distinct in local state bounded by the doc's own token
        // count (typed groupByKey has no map-side combine — shipping raw
        // shingle instances would ship every within-doc repetition)
        val set = scala.collection.mutable.HashSet.empty[Long]
        var i = 0
        val n = toks.length - (W - 1)
        while (i < n) {
          set += graft.functions.Hash64.hashString(
            toks.slice(i, i + W).mkString(" "))
          i += 1
        }
        set.iterator.map(h => (id, ev, h))
      }
      .toDF("doc_id", "is_eval", "h")
      .localCheckpoint(true) // eval and training sides both read it
    val ev = sh.filter(col("is_eval")).select(col("h")).distinct()
    val tr = sh.filter(!col("is_eval")).select(col("doc_id"), col("h"))
    // ev is distinct on h, so the left join never duplicates a tr row —
    // count(hit) counts exactly the matched shingles, and n_shingles and
    // matched come out of ONE doc-keyed aggregation. No per-doc join:
    // the earlier two-agg + left-join formulation made AQE broadcast the
    // matched-counts side, which is corpus-sized (one row per
    // contaminated doc) at 100 TB; here the only join is shingle-keyed
    // with the benchmark-sized eval side as the build side.
    tr.join(ev.withColumn("hit", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("matched"))
      .withColumn("contaminated", col("matched") > 0)
      .select(col("doc_id"), col("n_shingles"), col("matched"),
        col("contaminated"))
  }

  /** Suffix-automaton longest-common-substring spans over adjacent
    * document pairs + gear-shingle Jaccard (rows-only).
    */
  def dLcsPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .filter(_._1 < 60)
    val paired = docs.toDF("a_id", "a_text").join(
      docs.toDF("b_id", "b_text"), expr("b_id = a_id + 1"))
    val shCfg = ShingleConfig()
    paired.as[(Long, String, Long, String)].map { case (a, at, b, bt) =>
      val sa = Shingles.shingleHashes(at.getBytes("UTF-8"), shCfg)
      val sb = Shingles.shingleHashes(bt.getBytes("UTF-8"), shCfg)
      (a, b, graft.functions.Lcs.longestCommonSubstring(at, bt).toLong,
        math.round(Shingles.jaccard(sa, sb) * 1e6) / 1e6)
    }.toDF("a_id", "b_id", "lcs_len", "shingle_jaccard")
  }

  /** The ORACLED twin of [[dLcsPairs]]'s span verification: the same
    * suffix-automaton longest-common-substring code
    * ([[graft.functions.Lcs]]) over ASCII-cleaned 80-char prefixes, so
    * DuckDB can replay the quadratic DP exactly (a recursive CTE carries
    * one DP row per pair as a LIST — the r_restore_asm running-state
    * pattern; tiny by construction: 59 pairs × ≤80 steps × ≤80-long
    * rows). Proves the automaton against an independent DP the same way
    * the md5 twins prove the hash paths.
    */
  def dLcsTrunc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
      .filter(col("doc_id") < 60)
      .select(col("doc_id"),
        substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 80)
          .as("text"))
      .as[(Long, String)]
    val paired = docs.toDF("a_id", "a_text").join(
      docs.toDF("b_id", "b_text"), expr("b_id = a_id + 1"))
    paired.as[(Long, String, Long, String)].map { case (a, at, b, bt) =>
      (a, b, graft.functions.Lcs.longestCommonSubstring(at, bt).toLong)
    }.toDF("a_id", "b_id", "lcs_len")
  }

  /** Oracle CTEs `d` (documents of at least [[DupSpanGram]] code points)
    * and `pos` (each of their 16-grams with its 1-based start).
    */
  private val gramPosSql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 16),
      |pos AS (
      |  SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 16) AS gram
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(1, length(text) - 15)) AS i FROM d))""".stripMargin

  /** Oracle island chain over [[gramPosSql]]: `dp` keeps the positions of
    * grams that repeat in the corpus (or, with `perDoc`, within their own
    * document) and `isl` numbers them by span — a gap of more than 16
    * starts a new one, the [[mergeRuns]] rule.
    */
  private def gramIslandsSql(perDoc: Boolean): String = {
    val dup =
      if (perDoc) """dupg AS (
        |  SELECT doc_id, gram FROM pos
        |  GROUP BY doc_id, gram HAVING count(*) >= 2),
        |dp AS (SELECT p.doc_id, p.i FROM pos p JOIN dupg g USING (doc_id, gram)),"""
      else """dupg AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        |dp AS (SELECT p.doc_id, p.i FROM pos p JOIN dupg g USING (gram)),"""
    s"""$gramPosSql,
       |${dup.stripMargin}
       |brk AS (
       |  SELECT doc_id, i,
       |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 16
       |      THEN 0 ELSE 1 END AS is_brk
       |  FROM dp),
       |isl AS (
       |  SELECT doc_id, i,
       |    sum(is_brk) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM brk)""".stripMargin
  }

  /** Oracle of the per-document span totals of [[dDupSpanStats]] (grams
    * repeated anywhere) and [[dSelfRep]] (grams repeated within the doc):
    * span count `n`, covered code points `chars` and their share `ppm` in
    * integer parts per million.
    */
  private def spanTotalsSql(perDoc: Boolean, n: String, chars: String,
      ppm: String): String =
    s"""${gramIslandsSql(perDoc)},
       |spans AS (
       |  SELECT doc_id, min(i) AS span_start,
       |    max(i) + 16 - min(i) AS span_len
       |  FROM isl GROUP BY doc_id, span_id),
       |agg AS (
       |  SELECT doc_id, count(*) AS $n, sum(span_len) AS $chars
       |  FROM spans GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(a.$n, 0) AS $n,
       |  CAST(COALESCE(a.$chars, 0) AS BIGINT) AS $chars,
       |  length(d.text) AS char_len,
       |  CAST((COALESCE(a.$chars, 0) * 2000000 + length(d.text))
       |    // (2 * length(d.text)) AS BIGINT) AS $ppm
       |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("d_dup_spans", dDupSpans, Some(
      s"""${gramIslandsSql(perDoc = false)}
        |SELECT doc_id, min(i) AS span_start,
        |  max(i) + 16 - min(i) AS span_len, count(*) AS dup_grams
        |FROM isl GROUP BY doc_id, span_id""".stripMargin)),
    QueryDef("d_dup_span_stats", dDupSpanStats,
      Some(spanTotalsSql(perDoc = false, "n_spans", "dup_chars", "dup_ppm"))),
    QueryDef("d_self_rep", dSelfRep,
      Some(spanTotalsSql(perDoc = true, "rep_spans", "rep_chars", "rep_ppm"))),
    QueryDef("d_suffix_rank", dSuffixRank, Some(
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE text IS NOT NULL AND substr(md5(text), 1, 1) = '0'),
        |s AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |        substr(text, CAST(i AS INTEGER)) AS suf
        |      FROM (SELECT doc_id, text,
        |              unnest(generate_series(1, length(text))) AS i FROM d))
        |SELECT doc_id, pos,
        |  CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS srank
        |FROM s""".stripMargin)),
    QueryDef("d_sa_gram_stats", dSaGramStats, Some(
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE text IS NOT NULL AND substr(md5(text), 1, 1) = '0'
        |             AND length(text) >= 16),
        |g AS (SELECT doc_id, length(text) AS char_len,
        |        substr(text, CAST(i AS INTEGER), 16) AS gram
        |      FROM (SELECT doc_id, text,
        |              unnest(generate_series(1, length(text) - 15)) AS i FROM d)),
        |c AS (SELECT gram, count(*) AS n, count(DISTINCT doc_id) AS nd
        |      FROM g GROUP BY gram)
        |SELECT doc_id, CAST(char_len AS INTEGER) AS char_len, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
        |  CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS xdoc_grams
        |FROM g JOIN c USING (gram)
        |GROUP BY doc_id, char_len""".stripMargin)),
    QueryDef("d_dup_trim", dDupTrim, Some(
      s"""${gramIslandsSql(perDoc = false)},
        |spans AS (
        |  SELECT doc_id, min(i) AS s, max(i) + 16 - min(i) AS l
        |  FROM isl GROUP BY doc_id, span_id),
        |segs AS (
        |  SELECT doc_id,
        |    COALESCE(lag(s + l) OVER (PARTITION BY doc_id ORDER BY s), 1)
        |      AS ks,
        |    s AS ke
        |  FROM spans
        |  UNION ALL
        |  SELECT doc_id, max(s + l) AS ks, NULL AS ke
        |  FROM spans GROUP BY doc_id),
        |keptparts AS (
        |  SELECT g.doc_id, g.ks,
        |    substr(d.text, CAST(g.ks AS INTEGER),
        |      CAST(COALESCE(g.ke, length(d.text) + 1) - g.ks AS INTEGER))
        |      AS part
        |  FROM segs g JOIN d USING (doc_id)
        |  WHERE COALESCE(g.ke, length(d.text) + 1) > g.ks),
        |kept AS (
        |  SELECT s.doc_id,
        |    COALESCE(string_agg(kp.part, '' ORDER BY kp.ks), '') AS kt
        |  FROM (SELECT DISTINCT doc_id FROM spans) s
        |  LEFT JOIN keptparts kp USING (doc_id)
        |  GROUP BY s.doc_id)
        |SELECT d.doc_id, length(d.text) AS char_len,
        |  length(COALESCE(k.kt, d.text)) AS kept_len,
        |  length(d.text) - length(COALESCE(k.kt, d.text)) AS dup_chars,
        |  md5(COALESCE(k.kt, d.text)) AS kept_md5
        |FROM d LEFT JOIN kept k USING (doc_id)""".stripMargin)),
    QueryDef("d_dup_span_pairs", dDupSpanPairs, Some(
      s"""$gramPosSql,
        |keep AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) <= 32),
        |m AS (
        |  SELECT pa.doc_id AS a, pb.doc_id AS b,
        |    pb.i - pa.i AS diag, pa.i AS pa
        |  FROM pos pa
        |  JOIN keep k ON k.gram = pa.gram
        |  JOIN pos pb ON pb.gram = pa.gram AND pa.doc_id < pb.doc_id),
        |brk AS (
        |  SELECT a, b, diag, pa,
        |    CASE WHEN pa - lag(pa) OVER (PARTITION BY a, b, diag
        |      ORDER BY pa) = 1 THEN 0 ELSE 1 END AS is_brk
        |  FROM m),
        |isl AS (
        |  SELECT a, b, diag, pa,
        |    sum(is_brk) OVER (PARTITION BY a, b, diag ORDER BY pa
        |      ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM brk)
        |SELECT a, b, min(pa) AS a_start, min(pa) + diag AS b_start,
        |  count(*) AS run_grams, count(*) + 15 AS run_len
        |FROM isl GROUP BY a, b, diag, run_id""".stripMargin)),
    QueryDef("d_decontam", dDecontam, Some(
      """WITH d AS (SELECT doc_id, text,
        |    substr(md5(text), 1, 1) IN ('0','1') AS is_eval FROM documents),
        |tok AS (SELECT doc_id, is_eval,
        |    regexp_extract_all(text, '[A-Za-z0-9_]+') AS ts FROM d),
        |sh AS (
        |  SELECT DISTINCT doc_id, is_eval,
        |    array_to_string(ts[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)],
        |      ' ') AS s
        |  FROM (SELECT doc_id, is_eval, ts,
        |          unnest(generate_series(1, len(ts) - 7)) AS i
        |        FROM tok WHERE len(ts) >= 8)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE is_eval),
        |tr AS (SELECT doc_id, s FROM sh WHERE NOT is_eval),
        |m AS (SELECT t.doc_id, count(*) AS matched
        |      FROM tr t JOIN ev USING (s) GROUP BY t.doc_id),
        |n AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id)
        |SELECT n.doc_id, n.n_shingles, COALESCE(m.matched, 0) AS matched,
        |  COALESCE(m.matched, 0) > 0 AS contaminated
        |FROM n LEFT JOIN m USING (doc_id)""".stripMargin)),
    QueryDef("d_lcs_pairs", dLcsPairs, None),
    // longest-common-SUBSTRING DP replayed row by row: the recursive CTE
    // advances one character of A per step carrying the DP row
    // (L[j] = A[i]==B[j] ? prev[j-1]+1 : 0) as a LIST per pair; best is
    // the running max. AS MATERIALIZED per the repo's recursive-CTE rule.
    QueryDef("d_lcs_trunc", dLcsTrunc, Some(
      """WITH RECURSIVE d AS MATERIALIZED (
        |  SELECT doc_id,
        |    substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 80) AS t
        |  FROM documents WHERE doc_id < 60),
        |p AS MATERIALIZED (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.t AS ta, b.t AS tb,
        |    length(a.t) AS la, length(b.t) AS lb
        |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
        |mx AS (SELECT max(la) AS m FROM p),
        |step(a_id, b_id, i, row, best) AS (
        |  SELECT a_id, b_id, 0,
        |    list_transform(range(1, lb + 1), j -> 0), 0
        |  FROM p
        |  UNION ALL
        |  SELECT a_id, b_id, i, row,
        |    greatest(best, coalesce(list_aggregate(row, 'max'), 0)) AS best
        |  FROM (
        |    SELECT s.a_id, s.b_id, s.i + 1 AS i,
        |      CASE WHEN s.i + 1 <= p.la THEN
        |        list_transform(range(1, p.lb + 1), j ->
        |          CASE WHEN substr(p.ta, s.i + 1, 1) = substr(p.tb, j, 1)
        |               THEN coalesce(s.row[j - 1], 0) + 1 ELSE 0 END)
        |      ELSE s.row END AS row,
        |      s.best AS best
        |    FROM step s JOIN p ON p.a_id = s.a_id AND p.b_id = s.b_id
        |    WHERE s.i < (SELECT m FROM mx)))
        |SELECT a_id, b_id, CAST(max(best) AS BIGINT) AS lcs_len
        |FROM step GROUP BY 1, 2""".stripMargin))
  )
}
