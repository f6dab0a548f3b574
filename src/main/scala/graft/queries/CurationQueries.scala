package graft
package queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import QuerySupport._

/** Training-data curation over `documents`: exact dedup, tokenization,
  * language and quality signals, n-gram and winnowing near-dup scores, PII
  * scrubbing, sampling, mixing and sharding.
  */
object CurationQueries {

  /** Exact dedup by content hash (hash-groupBy dedup). */
  def dExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.groupBy(sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("canonical"))
  }

  /** Token counting (whitespace tokenizer). */
  def dTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"))
  }

  /** BPE-ish pre-tokenization: word runs + single punctuation marks.
    * Oracle-checked: on the ASCII corpus, Java-regex and DuckDB-RE2
    * semantics of this pattern coincide (regexp_extract_all replay).
    */
  def dTokenRegex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pattern = java.util.regex.Pattern.compile("[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]")
    t(spark, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val m = pattern.matcher(text)
        var n = 0L
        var distinctWords = scala.collection.mutable.Set.empty[String]
        while (m.find()) {
          n += 1
          if (Character.isLetterOrDigit(text.charAt(m.start()))) distinctWords += m.group()
        }
        (id, n, distinctWords.size.toLong)
      }
      .toDF("doc_id", "n_bpe_tokens", "n_distinct_words")
  }

  /** Language-ID heuristic: English stopword hits. */
  def dLangId(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    def hits(word: String) =
      ((length(col("text")) - length(regexp_replace(col("text"), word, "")))
        / word.length).cast("long")
    d.select(col("doc_id"),
        (hits(" the ") + hits(" and ") + hits(" of ")).as("en_hits"))
      .withColumn("predicted",
        when(col("en_hits") >= 1, "en").otherwise("unk"))
  }

  /** Quality scoring: structural ratios as exact integer counts. */
  def dQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    def countOf(ch: String) =
      (length(col("text")) - length(regexp_replace(col("text"), java.util.regex.Pattern.quote(ch), ""))).cast("long")
    d.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      countOf(" ").as("n_spaces"),
      countOf(".").as("n_dots"),
      countOf(",").as("n_commas"))
  }

  /** Gram document-frequency cap: grams appearing in more than this many
    * documents are excluded from the Jaccard self-join — the cap bounds
    * per-gram join fan-out at C(cap,2) so a boilerplate gram shared by
    * millions of docs can never go quadratic. The truncation is NOT
    * silent: [[dNgramDfStats]] reports kept/hot gram counts as a
    * first-class oracled query.
    */
  private val NgramDfCap = 32

  /** Distinct (doc_id, gram) rows with grams hashed to 64-bit via
    * xxhash64 immediately after the substring: every downstream shuffle
    * carries 8-byte longs instead of 8-char strings — the hashing a
    * 100 TB run would do; gram counting only needs EQUALITY, never the
    * gram text (collision odds at 2^64 are negligible and the DuckDB
    * string-side oracle stays green). Used by [[dNgramDfStats]];
    * [[dNgramJaccardPairs]] builds the same code-point-window grams
    * per document inside its one-shuffle flatMap (different 64-bit hash,
    * same gram definition — only equality ever matters).
    */
  private def hashedGrams(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").filter(length(col("text")) >= 8)
    d.select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 7)).as("i"))
      .select(col("doc_id"), xxhash64(expr("substring(text, i, 8)")).as("g"))
      .distinct()
  }

  /** The one-shuffle bounded-group pair/size contribution stage shared by
    * [[dNgramJaccardPairs]] and [[dWinnowPairs]] (the cap/overflow
    * semantics are oracle-bearing, so they live in exactly one place).
    * Input: (gramKey, docId) rows. Per gram group — skew-safe: state is
    * bounded at cap+1 distinct docs, hot grams are stream-drained and
    * dropped, the same overflow pattern as DedupPipeline.candidatePairs —
    * emits one size-contribution row (doc, doc, is_size=true) per kept
    * doc plus C(n,2) pair rows (a, b, is_size=false). Size rows are
    * tagged explicitly (never a doc_id sentinel: negative ids, legal for
    * Hash64.fileId-style keys, must fail loudly, not misclassify).
    */
  private def pairContrib(gramRows: Dataset[(Long, Long)], cap: Int): DataFrame = {
    val spark = gramRows.sparkSession
    import spark.implicits._
    gramRows.groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long)]) =>
        val docs = scala.collection.mutable.SortedSet.empty[Long]
        var overflow = false
        while (it.hasNext && !overflow) {
          val d = it.next()._2
          require(d >= 0L,
            s"pairContrib: negative doc id $d (id scheme not supported here)")
          docs += d
          if (docs.size > cap) overflow = true
        }
        if (overflow) Iterator.empty
        else {
          val a = docs.toArray
          a.iterator.map(x => (x, x, true)) ++
            (for { i <- a.indices.iterator; j <- (i + 1) until a.length }
              yield (a(i), a(j), false))
        }
      }
      .toDF("a", "b", "is_size")
      .localCheckpoint(true) // sizes and pair counts both read it
  }

  /** Pairwise rare-gram Jaccard near-dup scores (exact, SQL-expressible
    * semantics — the DuckDB oracle replays them relationally): distinct
    * 8-grams per doc, grams with document frequency ≤ [[NgramDfCap]]
    * kept, intersection counted per gram group; set sizes and the
    * Jaccard denominator count kept grams only. Runs over ALL documents —
    * no hardcoded id cap; the DF cap is what bounds the pair fan-out at
    * C(cap,2) per gram.
    */
  def dNgramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = par(spark,
      t(spark, dir, "documents").filter(length(col("text")) >= 8), "doc_id")
    // Distinct (gram-hash, doc_id) rows built per document in one typed
    // flatMap: the distinct set is bounded by the doc's own gram count
    // (never corpus-global state), and typed groupByKey has NO map-side
    // combine — shuffling raw gram instances would ship every within-doc
    // repetition. Everything the query needs (DF cap, candidate pairs,
    // per-doc kept-gram sizes) comes out of ONE gram-keyed shuffle; the
    // two tiny aggregations + one join after it run over pair/size
    // contribution rows only.
    val gramRows = d
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        // grams are windows of 8 CODE POINTS (matching SQL substr both in
        // the Spark-side dNgramDfStats and the DuckDB oracle — Java
        // substring counts UTF-16 units and would diverge on non-BMP text)
        val cps = text.codePoints().toArray
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val off = graft.functions.Hash64.utf8Offsets(cps)
        val set = scala.collection.mutable.HashSet.empty[Long]
        var i = 0
        val n = cps.length - 7
        while (i < n) {
          set += graft.functions.Hash64.hashBytes(
            bytes, off(i), off(i + 8) - off(i), 0L)
          i += 1
        }
        set.iterator.map(g => (g, id))
      }
    val contrib = pairContrib(gramRows, NgramDfCap)
    val sizes = contrib.filter(col("is_size"))
      .groupBy(col("a").as("doc_id")).agg(count(lit(1)).as("n"))
    val inter = contrib.filter(!col("is_size"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    // sizes scales with the corpus (one row per doc) so it is NOT force-
    // broadcast; AQE picks broadcast at test scale, shuffle join at 100 TB
    inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), Seq("a"))
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), Seq("b"))
      .withColumn("jaccard",
        round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= 0.05)
      .select(col("a"), col("b"), col("inter"), col("jaccard"))
  }

  /** Winnowing document fingerprints (MOSS-style, value-oracled): 8-gram
    * md5 per position, sliding window of 4 consecutive grams, the window
    * minimum (lexicographic on the md5 hex — replayable in DuckDB where
    * the production gear rolling hash is not) is selected; the distinct
    * selected fingerprints per document are the guarantee-bearing sketch
    * (any shared substring of ≥ 11 code points yields a shared
    * fingerprint).
    *
    * The sketch is a PER-DOCUMENT PURE FUNCTION, so the Spark side is a
    * single typed mapPartitions fold — md5 per gram plus a rolling
    * w-window min computed in-JVM, per-doc distinct in bounded local
    * state — zero gram-level shuffle, zero row amplification (the only
    * Exchange is [[par]]'s guarded fixture-split repartition of the doc
    * rows, a no-op at production split counts; round 2 exploded one
    * row per character position through a shuffle + per-doc window sort:
    * a multi-PB shuffle at 100 TB for values a map can produce). The
    * DuckDB oracle keeps the relational window formulation — it
    * constrains VALUES, not the Spark plan.
    */
  def dWinnow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = 4
    par(spark, t(spark, dir, "documents")
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), col("text")), "doc_id").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          // windows of 8 CODE POINTS (SQL substr semantics; Java substring
          // counts UTF-16 units and would diverge on non-BMP text). md5
          // runs over byte slices of ONE per-doc UTF-8 encode — identical
          // digests, no per-position String + encode (r6 per-task opt).
          val cps = text.codePoints().toArray
          val n = cps.length - 7
          if (n < w) Iterator.empty
          else {
            val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val off = graft.functions.Hash64.utf8Offsets(cps)
            val hs = new Array[String](n)
            var i = 0
            while (i < n) {
              md.reset()
              md.update(bytes, off(i), off(i + 8) - off(i))
              hs(i) = DedupPipeline.toHex(md.digest())
              i += 1
            }
            // rolling window min (w=4: direct scan beats a deque), per-doc
            // distinct in a local set bounded by the doc's own gram count
            val sel = scala.collection.mutable.HashSet.empty[String]
            i = 0
            while (i <= n - w) {
              var m = hs(i)
              var j = i + 1
              while (j < i + w) { if (hs(j) < m) m = hs(j); j += 1 }
              sel += m
              i += 1
            }
            sel.iterator.map(fp => (id, fp))
          }
        }
      }
      .toDF("doc_id", "fp")
  }

  /** Winnow-sketch near-dup pairs — the MOSS approach for source code:
    * documents sharing ≥2 winnowing fingerprints, scored by containment
    * (shared fps / smaller sketch). Sub-linear in gram volume versus the
    * exact rare-gram Jaccard join (the sketch keeps ~1/window of the
    * grams) — the trade a 100 TB code-dedup run makes. Same one-shuffle
    * bounded-group pattern as [[dNgramJaccardPairs]]: fingerprints with
    * document frequency > 32 (boilerplate) are stream-drained and
    * dropped; sketch sizes count kept fps only.
    */
  def dWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fps = dWinnow(spark, dir)
      .select(xxhash64(col("fp")).as("g"), col("doc_id"))
      .as[(Long, Long)]
    val contrib = pairContrib(fps, NgramDfCap)
    val sizes = contrib.filter(col("is_size"))
      .groupBy(col("a").as("doc_id")).agg(count(lit(1)).as("n"))
    contrib.filter(!col("is_size"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= 2)
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), Seq("a"))
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), Seq("b"))
      .withColumn("containment",
        round(col("overlap") / least(col("na"), col("nb")), 6))
      .select(col("a"), col("b"), col("overlap"), col("na"), col("nb"),
        col("containment"))
  }

  /** The n-gram DF-cap truncation metric (no silent caps): how many
    * distinct grams the cap keeps vs drops, and the hottest gram's DF.
    */
  def dNgramDfStats(spark: SparkSession, dir: String): DataFrame = {
    hashedGrams(spark, dir).groupBy(col("g")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("distinct_grams"),
        sum(when(col("df") <= NgramDfCap, 1L).otherwise(0L)).as("kept_grams"),
        sum(when(col("df") > NgramDfCap, 1L).otherwise(0L)).as("hot_grams"),
        max(col("df")).as("max_df"))
  }

  /** ENGINE half of the 48-bit md5 content-rank contract ([[h48Sql]] is
    * the oracle half): the first 12 hex nibbles of md5 over `c`'s UTF-8
    * bytes as a BIGINT. All content-deterministic selection orders
    * (quota, mix, rebalance, sharding) route through this one
    * definition — widening to more digest bits (the d_fork_families
    * collision lesson for production vocabularies) happens here and in
    * h48Sql together, or not at all.
    */
  private def m48Col(c: String): org.apache.spark.sql.Column =
    expr(s"cast(conv(substring(md5(cast($c as binary)), 1, 12), 16, 10) as bigint)")

  /** A5-analog rollup aggregation (grouping sets over the doc corpus). */
  def dRollupStats(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(length(col("text")).cast("long")).as("chars"))
  }

  /** End-to-end corpus curation — the canonical training-data pass
    * composed from the individual operators: (1) quality gate (min length
    * + min whitespace ratio, integer arithmetic only), (2) exact dedup
    * over md5(text) keeping the lowest doc_id (the shuffle key is the
    * fixed-width digest, never the text — bounded payload at 100 TB),
    * (3) per-(lang, source) retention report: total docs, dropped by
    * quality, dropped as duplicates, kept. Fully SQL-expressible; the
    * DuckDB oracle replays all three stages.
    */
  def dCuration(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_spaces",
        (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long"))
      .withColumn("quality_ok",
        col("n_chars") >= 100 && col("n_spaces") * 100 >= col("n_chars") * 5)
    val qok = d.filter(col("quality_ok")).withColumn("h", md5(col("text")))
    val keep = qok.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val marked = qok.join(keep, Seq("h"))
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
    val dupStats = marked.groupBy(col("lang"), col("source"))
      .agg(sum(when(col("is_dup"), 1L).otherwise(0L)).as("drop_dup"),
        sum(when(!col("is_dup"), 1L).otherwise(0L)).as("kept"))
    d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(when(!col("quality_ok"), 1L).otherwise(0L)).as("drop_quality"))
      .join(dupStats, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("drop_dup", "kept"))
  }

  /** Distinct character 5-gram shingles per document. */
  def dNgramShingles(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    d.filter(length(col("text")) >= 5)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 4)).as("i"))
      .select(col("doc_id"), expr("substring(text, i, 5)").as("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shingles"))
  }

  // PII patterns shared verbatim by the engine (Java regex) and the
  // DuckDB oracle (RE2) — restricted to the dialect-identical subset:
  // no lookaround, no backrefs, ASCII classes, ASCII \b only.
  private val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  private val PiiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  private val PiiPhone = "\\+\\d[\\d-]{7,}\\d"

  /** PII scrubbing — the redaction pass every training-data pipeline
    * runs before release: count and replace emails / IPv4s / phone
    * numbers. STRICTLY map-only (one pruned (doc_id, text) scan, zero
    * shuffles — trivially 100 TB-safe; regexp_count/replace are
    * codegen'd builtins, no UDF).
    *
    * The synthetic corpus contains no PII, so — the m_* precedent —
    * the query first APPENDS deterministic PII spans (email every 5th
    * doc, IPv4 every 7th, phone every 11th, all pure SQL arithmetic on
    * doc_id) and then scrubs them: the DuckDB oracle replays the same
    * augmentation, so the counts AND the md5 of the scrubbed text
    * value-check the detection and the replacement — nonzero matches at
    * every sf, not a vacuously green zero-hit run. Scrub order is part
    * of the contract: email → IP → phone, globally, both engines.
    */
  def dPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = t(spark, dir, "documents")
      .select(col("doc_id"),
        concat(
          col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail-"), (col("doc_id") % 13).cast("string"),
              lit(".example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" node 10."), (col("doc_id") % 256).cast("string"),
              lit("."), ((col("doc_id") * 7) % 256).cast("string"),
              lit("."), (col("doc_id") % 200).cast("string"),
              lit(" up"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call +1-555-"),
              ((col("doc_id") % 9000) + 1000).cast("string"), lit("-"),
              (((col("doc_id") * 3) % 9000) + 1000).cast("string"),
              lit(" soon"))).otherwise(lit(""))).as("aug"))
    aug.select(col("doc_id"),
      regexp_count(col("aug"), lit(PiiEmail)).cast("long").as("n_email"),
      regexp_count(col("aug"), lit(PiiIp)).cast("long").as("n_ip"),
      regexp_count(col("aug"), lit(PiiPhone)).cast("long").as("n_phone"),
      md5(regexp_replace(regexp_replace(regexp_replace(col("aug"),
        PiiEmail, "<EMAIL>"), PiiIp, "<IP>"), PiiPhone, "<PHONE>")
        .cast("binary")).as("scrub_md5"))
  }

  /** Corpus-statistics "LM familiarity" quality score — the offline
    * proxy for the CCNet/Gopher perplexity filter (model-based
    * filtering, distinct from [[dCuration]]'s surface heuristics):
    * score each document by how familiar its char-3-grams are to the
    * WHOLE corpus's gram distribution. `mean_freq_micro` = per-doc mean
    * corpus-count over its gram occurrences (×1e6, exact round-half-up
    * integer division — the micro-unit rule); `rare_ppm` = the fraction
    * of occurrences whose gram sits under HALF the corpus mean count
    * (2·cnt·D < T, D = distinct grams, T = total occurrences —
    * corpus-RELATIVE, so the threshold carries to any corpus size).
    * Gibberish scores low familiarity / high rarity; boilerplate the
    * opposite.
    *
    * Scale: the model (gram, cnt) is bounded by charset³ independent of
    * corpus size — one combinable agg, then BROADCAST into the scoring
    * join so the unbounded occurrence stream never shuffles on gram;
    * the only other shuffle is the doc-keyed rollup. (D, T) is one
    * O(1) collected scalar row. All-integer arithmetic end to end.
    */
  def dGramQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Map-side per-doc 3-gram MULTISET bag (r6, round-5 ADVICE): built in
    // bounded local state (the doc's own gram count) as (doc_id, gram, n)
    // rows — the former explode lineage shipped one row per OCCURRENCE
    // through the model aggregation and the scoring join; bag rows carry
    // counts, and every downstream value is the identical integer (sums
    // weight by n).
    val bag = par(spark, t(spark, dir, "documents")
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val cps = text.codePoints().toArray
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        var i = 0
        val n = cps.length - 2
        while (i < n) {
          // 3 CODE POINTS — identical to the former SQL substring(text,i,3)
          val g = new String(cps, i, 3)
          m.update(g, m.getOrElse(g, 0L) + 1L)
          i += 1
        }
        m.iterator.map { case (g, c) => (id, g, c) }
      }
      .toDF("doc_id", "gram", "n")
      // NOT checkpointed (measured 0.86 vs 1.08 s at sf0.1): both
      // consumers re-run the cheap map-side bag build over the SHARED
      // par() exchange (AQE reuses that stage), which beats writing and
      // re-reading a corpus-sized bag materialization at every scale the
      // recompute is map-only
    val model = bag.groupBy(col("gram")).agg(sum(col("n")).as("cnt"))
      .localCheckpoint(true) // reused: the scalar row + the broadcast side
    val scal = model.agg(count(lit(1)).as("d"), sum(col("cnt")).as("t")).head()
    // empty filtered corpus → sum is NULL; tt = 0 keeps the (empty)
    // plan well-typed instead of NPEing at query construction
    val dd = scal.getLong(0)
    val tt = if (scal.isNullAt(1)) BigDecimal(0) else BigDecimal(scal.getLong(1))
    // decimal(38,0) everywhere a product of corpus-scale counts appears:
    // sc (Σ cnt over a doc) times 2e6, and cnt·2·D in the rare test, both
    // overflow BIGINT on a corpus a few orders past the test sfs — the
    // DuckDB twin computes them in HUGEINT, so the engine must not wrap
    // the rare test (cnt·2·D < T) is per-GRAM, so decide it ONCE on the
    // bounded model side (≤ charset³ rows) before broadcasting — the
    // unbounded occurrence stream then carries only long sums, keeping
    // the decimal(38,0) multiply off the hot path
    val tagged = model.withColumn("rare",
      when(col("cnt").cast("decimal(38,0)") * lit(2L * dd)
        < lit(tt.underlying()), 1L).otherwise(0L))
    bag.join(broadcast(tagged), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_grams"),
        sum(col("cnt").cast("decimal(38,0)") * col("n")).as("sc"),
        sum(col("rare") * col("n")).as("rc"))
      .select(col("doc_id"), col("n_grams"),
        expr("cast((sc * 2000000 + n_grams) div (2 * n_grams) as bigint)")
          .as("mean_freq_micro"),
        expr("(rc * 2000000 + n_grams) div (2 * n_grams)").as("rare_ppm"))
  }

  /** Per-domain quota cap for [[dQuotaSample]]. Small enough to BIND on
    * the 20-source fixture corpus at every sf (so the sample is a real
    * selection, not a pass-through); the knob a production run sizes per
    * domain budget.
    */
  private val DomainQuota = 10

  /** Per-domain quota sampling — the domain-balancing ACTION a web-scale
    * corpus runs so no single domain dominates the training mix: keep at
    * most [[DomainQuota]] documents per `source`, selected
    * content-deterministically (rank = md5-of-text order, doc_id
    * tie-break) so the sample is reproducible across runs and cluster
    * sizes with NO RNG state. Shape: ONE map-side-combinable
    * [[graft.functions.TopKBy]] aggregate per source — ≤Q rows per
    * (partition, source) cross the shuffle and nothing is globally
    * sorted, exactly the hot-domain case where a `row_number` window
    * would funnel one task per mega-domain. The 48-bit md5 prefix is the
    * established [[h48Sql]] integer order (collisions land on the
    * doc_id tie-break identically in both engines).
    */
  def dQuotaSample(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"),
        m48Col("text").as("m48"))
    d.groupBy(col("source"))
      .agg(graft.functions.TopKBy(-col("m48"), col("doc_id"), DomainQuota)
        .as("topk"))
      .select(col("source"), posexplode(col("topk")))
      .select(col("source"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  /** Vocabulary size for [[dVocabOov]] — deliberately smaller than the
    * fixture corpus's 31 token types so the boundary BINDS and the OOV
    * rate is nonzero at every sf (the review-caught vacuity: at 32 the
    * top-V vocab swallowed the whole fixture vocabulary and the oracle's
    * OOV arm was identically zero); a production run sizes this to the
    * tokenizer budget.
    */
  private val VocabSize = 16

  /** Frequency-vocabulary construction + per-document OOV rate — the
    * tokenizer-budget diagnostic every training-data pipeline runs
    * (which documents will shatter into unknown tokens?): vocab = the
    * [[VocabSize]] most frequent tokens (count desc, token asc — total
    * order, so the boundary is deterministic), then per doc the fraction
    * of token occurrences outside the vocab, in exact integer ppm.
    *
    * Scale: token-count agg is map-side combinable (cardinality =
    * vocabulary, not corpus); vocab selection is a global top-V over
    * that bounded table (TakeOrdered, V rows — never a window); the
    * scoring join BROADCASTS the V-row vocab so the occurrence stream
    * shuffles only for the doc-keyed rollup.
    */
  def dVocabOov(spark: SparkSession, dir: String): DataFrame = {
    // one tokenize pass, checkpointed as the per-doc bag — vocab census
    // and scoring both read the fence instead of re-tokenizing; counts
    // carry through `c` so the values are identical to the occurrence
    // stream's
    val bag = par(spark, t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"))
          .as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = bag.groupBy(col("tok")).agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(VocabSize)
      .select(col("tok")).withColumn("inv", lit(1))
    bag.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("inv").isNull, col("c")).otherwise(0L)).as("oov"))
      .withColumn("oov_ppm",
        expr("(oov * 2000000 + n_tokens) div (2 * n_tokens)"))
  }

  /** Bloom-filter incremental dedup — the approximate-membership gate an
    * ingest pipeline runs against the EXISTING corpus before paying the
    * exact-index join: the even-doc_id half of the corpus is the
    * "already ingested" store, the odd half is the arriving batch.
    * Filter: k=4 probe positions per digest, each the integer value of 8
    * md5 hex nibbles mod m, with m sized from the store (8 bits/key,
    * the honest Bloom sizing — fill factor and FP rate are then
    * sf-INVARIANT, so the driver check is never vacuously FP-free).
    * Emits per batch doc: bits_set (0-4), bloom_hit (all probes set)
    * and exact_dup (true membership via the md5 join the Bloom
    * replaces — the labeled evaluation arm), so the row set
    * value-checks zero-false-negative behavior AND the FP population.
    * To keep the true-positive arm non-vacuous at every sf (identical
    * texts always land on the same side of any content split, and the
    * fixture's doc-parity dup pairs only appear at sf0.1), the batch
    * deterministically RE-SENDS every (10k+1)-id document with its even
    * neighbor's content — the re-crawl case Bloom ingest gates exist
    * for; the oracle replays the same substitution.
    *
    * Scale: the bit-position set is bounded by m = 8·|store| — but the
    * engine never materializes per-key state wider than a (pos) row;
    * the distinct-pos table is ≤m rows and broadcasts, the probe side
    * is map-only + one doc-keyed rollup. The exact arm is a digest-keyed
    * shuffle join (corpus-sized build — deliberately NOT broadcast).
    */
  def dBloomDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("m0"))
    val resend = base.select((col("doc_id") + 1).as("doc_id"),
      col("m0").as("mprev"))
    // eager localCheckpoint (the repo's fence pattern, ContextCleaner-
    // freed — NOT an unpaired persist): the narrow (doc_id, digest)
    // table feeds the sizing count, the bit-set build, the probe side
    // AND the exact arm — without it each re-derives the md5 scan +
    // augmentation self-join
    val d = base.join(resend, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1 && col("mprev").isNotNull,
          col("mprev")).otherwise(col("m0")).as("m"))
      .localCheckpoint(true)
    val nStore = d.filter(col("doc_id") % 2 === 0).count()
    val m = math.max(64L, 8L * nStore)
    val probeCols = (0 until 4).map { j =>
      expr(s"cast(conv(substring(m, ${1 + 8 * j}, 8), 16, 10) as bigint) % $m")
        .as(s"p$j")
    }
    val bits = d.filter(col("doc_id") % 2 === 0)
      .select(explode(array(probeCols: _*)).as("pos")).distinct()
      .withColumn("set", lit(1))
    val probed = d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("m"),
        explode(array(probeCols: _*)).as("pos"))
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("m"))
      .agg(sum(when(col("set").isNotNull, 1L).otherwise(0L)).as("bits_set"))
    val store = d.filter(col("doc_id") % 2 === 0)
      .select(col("m")).distinct().withColumn("dup", lit(1))
    probed.join(store, Seq("m"), "left")
      .select(col("doc_id"), col("bits_set"),
        (col("bits_set") === 4L).as("bloom_hit"),
        col("dup").isNotNull.as("exact_dup"))
  }

  /** Paragraph window for [[dParaDedup]] — the corpus has no newline
    * structure, so "paragraphs" are fixed [[ParaTokens]]-token windows of
    * the whitespace token stream (deterministic, both-engine replayable);
    * a production run splits on real paragraph breaks and the pipeline
    * shape is identical.
    */
  private val ParaTokens = 12

  /** Paragraph-level exact dedup + document RECONSTRUCTION — the
    * CCNet/RefinedWeb curation pass one granularity below document
    * dedup: every duplicated paragraph except its corpus-wide FIRST
    * occurrence (first writer = min (doc_id, pid)) is dropped, and each
    * document is rebuilt from its surviving paragraphs in order.
    *
    * Scale shape: paragraphs are derived MAP-SIDE with higher-order
    * slice/transform over the token array and only their 16-byte md5
    * ever shuffles (paragraph TEXT stays in the scan task); first-writer
    * is ONE combinable min(struct) agg on the hash; verdicts re-join the
    * hash stream hash-keyed; the kept-pid list rolls up doc-keyed
    * (bounded by the doc's own length — the d_dup_trim span-list bound)
    * and reconstruction + digesting run map-side against the original
    * text after a doc-keyed join. No windows, no per-doc sort tasks:
    * `sort_array` sorts one doc's bounded pid list inside its row.
    */
  def dParaDedup(spark: SparkSession, dir: String): DataFrame = {
    val P = ParaTokens
    val docs = par(spark, t(spark, dir, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text")),
      "doc_id")
    val paras = docs
      .withColumn("ts", expr("split(text, ' ')"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (size(ts) + ${P - 1}) div $P - 1), " +
          s"i -> md5(cast(array_join(slice(ts, i * $P + 1, $P), ' ') as binary)))")))
      .select(col("doc_id"), col("pos").cast("long").as("pid"),
        col("col").as("h"))
    val fw = paras.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pid"))).as("w"))
    val verdicts = paras.join(fw, Seq("h"))
      .select(col("doc_id"), col("pid"),
        (col("w.doc_id") === col("doc_id") && col("w.pid") === col("pid"))
          .as("keep"))
    val perDoc = verdicts.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_paras"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      sort_array(collect_list(when(col("keep"), col("pid")))).as("kept"))
    perDoc.join(docs, Seq("doc_id"))
      .withColumn("ts", expr("split(text, ' ')"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        expr(s"md5(cast(array_join(transform(kept, " +
          s"p -> array_join(slice(ts, cast(p as int) * $P + 1, $P), ' ')), " +
          "'\\n') as binary))").as("kept_md5"))
  }

  /** Top-k for [[dTfidfTopterms]] and the integer score scale (exact in
    * both engines: BIGINT multiply then integer-divide).
    */
  private val TfidfK = 3

  private val TfidfScale = 1000000000L

  /** Per-document tf·idf top terms — the keyword/feature-extraction pass
    * (quality signals, topic routing) expressed hash-stably: score =
    * exact integer `tf·SCALE div df` (identical integer division in both
    * engines, no floats anywhere), ranked per doc by the native
    * map-side-combinable [[graft.functions.TopKBy]] (score desc,
    * token-60-bit-md5 asc tie-break) — ≤k rows per (partition, doc)
    * cross the shuffle, never a per-doc window sort.
    *
    * Scale: one tokenize pass; tf is a (doc, token-id)-keyed combinable
    * agg over 8-byte ids (token strings never ride the big shuffles —
    * the d_clone_pairs element-stream rule); df and the id→string vocab
    * map are vocabulary-bounded combinable aggs BROADCAST into their
    * joins; output is k rows per doc. The 60-bit md5-prefix id is
    * collision-free at fixture vocabulary scale and oracle-checked; a
    * production vocabulary widens ids to the full digest (the
    * d_fork_families lesson — collisions there merge tf streams
    * silently).
    */
  def dTfidfTopterms(spark: SparkSession, dir: String): DataFrame = {
    // ONE tokenize pass, materialized as the per-doc BAG (the clone
    // detector's shape) behind an eager localCheckpoint fence — without
    // it the df/vocab/score branches each re-run the scan + regexp +
    // explode lineage. The md5 id is computed on bag rows (one hash per
    // (doc, token-type), not per occurrence).
    val bag = par(spark, t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"))
          .as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .withColumn("tid",
        expr("cast(conv(substring(md5(cast(tok as binary)), 1, 15), 16, 10) as bigint)"))
      .localCheckpoint(true)
    val tf = bag.select(col("doc_id"), col("tid"), col("tf"))
    val df = tf.groupBy(col("tid")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), Seq("tid"))
      .withColumn("score", expr(s"tf * ${TfidfScale}L div df"))
    val top = scored.groupBy(col("doc_id"))
      .agg(graft.functions.TopKBy(col("score"), col("tid"), TfidfK)
        .as("topk"))
      .select(col("doc_id"), posexplode(col("topk")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col.score").as("score"), col("col.id").as("tid"))
    val vocab = bag.select(col("tok"), col("tid")).distinct()
    top.join(broadcast(vocab), Seq("tid"))
      .select(col("doc_id"), col("rk"), col("tok"), col("score"))
  }

  /** Sample-size target for [[dMixAlloc]] — small enough that the
    * apportionment is a real selection at every sf (groups with zero
    * allocation exist); a production run sizes this to the epoch token
    * budget.
    */
  private val MixTarget = 24

  /** n-before rank over a METADATA-BOUNDED table via a broadcast
    * non-equi self-join — never a window: adds `out` = the number of
    * rows strictly ordered before this one under `keys` (per-key
    * ascending flag; later keys break ties). Both join sides are the
    * bounded table itself, so cost is |table|² with |table| bounded by
    * metadata cardinality, not corpus size. Rows must be unique (they
    * are group-census rows at every call site) — the final groupBy on
    * all columns restores one row each.
    */
  private[graft] def boundedRankBefore(df: DataFrame,
      keys: Seq[(String, Boolean)], out: String): DataFrame = {
    val pref = "rb_"
    val peers = df.select(keys.map { case (k, _) => col(k).as(pref + k) }: _*)
    def less(i: Int): org.apache.spark.sql.Column = {
      val (k, asc) = keys(i)
      val p = col(pref + k)
      val lt = if (asc) p < col(k) else p > col(k)
      if (i == keys.length - 1) lt
      else lt || (p === col(k) && less(i + 1))
    }
    df.join(broadcast(peers), less(0), "left")
      .groupBy(df.columns.map(col): _*)
      .agg(count(col(pref + keys.head._1)).as(out))
  }

  /** Exact data-mixture apportionment + selection — the final step of a
    * training-data pipeline: distribute a global sample budget T across
    * (lang, source) strata by Hamilton's largest-remainder method
    * (allocᵢ = ⌊T·cᵢ/C⌋ plus one extra for the R = T−Σ⌊⌋ largest
    * remainders, ties → (lang, source) asc — EXACT integer arithmetic,
    * Σalloc = T by construction), then pick each stratum's docs
    * content-deterministically (md5-prefix order, the d_quota_sample
    * rank) so the mixture is reproducible with no RNG.
    *
    * Scale: the stratum census is a combinable count agg whose
    * cardinality is METADATA-bounded (langs × sources), so the scalar
    * totals (C, Σ⌊⌋) crossJoin O(1)-row sides and the remainder rank is
    * a bounded×bounded broadcast non-equi self-join — corpus size never
    * touches the apportionment arithmetic; per-stratum selection is ONE
    * map-side-combinable `top_k_by` (≤T rows per (partition, stratum)
    * cross the shuffle) trimmed to allocᵢ by the broadcast alloc table.
    */
  def dMixAlloc(spark: SparkSession, dir: String): DataFrame = {
    val T = MixTarget
    val docs = t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("lang"), col("source"), col("doc_id"),
        m48Col("text").as("m48"))
    val g = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("cnt"))
    val g2 = g.crossJoin(broadcast(g.agg(sum(col("cnt")).as("c_total"))))
      .withColumn("fl", expr(s"$T * cnt div c_total"))
      .withColumn("rem", expr(s"$T * cnt % c_total"))
    val alloc = boundedRankBefore(
        g2.select(col("lang"), col("source"), col("fl"), col("rem")),
        Seq("rem" -> false, "lang" -> true, "source" -> true), "nbefore")
      .crossJoin(broadcast(
        g2.agg((lit(T.toLong) - sum(col("fl"))).as("extra_slots"))))
      .select(col("lang"), col("source"),
        (col("fl") + when(col("nbefore") < col("extra_slots"), 1L)
          .otherwise(0L)).as("alloc"))
      .filter(col("alloc") > 0)
    val sel = docs.groupBy(col("lang"), col("source"))
      .agg(graft.functions.TopKBy(-col("m48"), col("doc_id"), T).as("topk"))
      .select(col("lang"), col("source"), posexplode(col("topk")))
      .select(col("lang"), col("source"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))
    sel.join(broadcast(alloc), Seq("lang", "source"))
      .filter(col("rk") <= col("alloc"))
      .select(col("lang"), col("source"), col("doc_id"), col("rk"),
        col("alloc"))
  }

  /** Language rebalancing to equal shares — the temperature-style
    * mixture rebalance (τ → 0 limit: every language gets the corpus's
    * equal share C/L, the multilingual-training counter to English
    * dominance), with BOTH arms of the real op live: languages above
    * their share DOWNSAMPLE (select the md5-first U docs), languages
    * below it UPSAMPLE (every doc repeats ⌊U/cnt⌋ times, the md5-first
    * U mod cnt docs once more — the epoch/repetition-factor mechanic).
    * Exact integer apportionment (equal-share Hamilton: ⌊C/L⌋ + one for
    * the first C mod L languages asc), so Σ target = C and Σ copies per
    * language = its target, exactly.
    *
    * Scale: the language census and target table are metadata-bounded
    * (the d_mix_alloc argument; alphabetic rank via a bounded broadcast
    * self-join); the per-language content rank is the WINDOW-FREE
    * two-phase [[DedupPipeline.streamPrefix]] per-stream rank (range
    * partition + O(partitions) boundary offsets — a mega-language never
    * funnels into one task, unlike `row_number() OVER (PARTITION BY
    * lang)`); copies are computed map-side off the broadcast targets.
    * The rank phase is also why this op has no top_k_by shortcut: the
    * upsample arm needs EVERY doc ranked (rank ≤ U mod cnt decides the
    * extra copy), not a bounded prefix.
    */
  def dLangBalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = par(spark, t(spark, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull)
        .select(col("lang"), col("doc_id"), col("text")), "doc_id")
      .select(col("lang"), col("doc_id"),
        m48Col("text").as("m48"))
    val census = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val target = boundedRankBefore(census, Seq("lang" -> true), "nbefore")
      .crossJoin(broadcast(
        census.agg(sum(col("cnt")).as("c_total"),
          count(lit(1)).as("n_langs"))))
      .select(col("lang"), col("cnt"),
        (expr("c_total div n_langs") +
          when(col("nbefore") < expr("c_total % n_langs"), 1L)
            .otherwise(0L)).as("u"))
    val ranked = graft.pipeline.DedupPipeline.streamPrefix(
        docs.withColumn("one", lit(1L)).toDF(),
        "lang", Seq("m48", "doc_id"), "one", "pre")
      .withColumn("rk", col("pre") + 1L)
    ranked.join(broadcast(target), Seq("lang"))
      .withColumn("copies",
        expr("u div cnt") +
          when(col("rk") <= expr("u % cnt"), 1L).otherwise(0L))
      .filter(col("copies") > 0)
      .select(col("lang"), col("doc_id"), col("rk"), col("copies"))
  }

  /** Shard fan-out for [[dShardStats]] — a production run sizes this to
    * the training-reader parallelism.
    */
  private val ShardCount = 8

  /** Deterministic output sharding + balance report — the write-side
    * final step (spread the curated corpus over S reader shards so no
    * trainer host starves): shard = md5-prefix mod S (content-keyed, so
    * re-runs and cluster sizes don't move docs), reporting per shard the
    * doc count, whitespace-token mass, and its exact share of the
    * corpus's tokens in round-half-up ppm (ideal = 1e6/S; the skew a
    * reader scheduler cares about).
    *
    * Scale: strictly map-side shard assignment + ONE combinable
    * S-row aggregate; the scalar total joins back as an O(1)-row
    * broadcast (the d_backup_stats pattern).
    */
  def dShardStats(spark: SparkSession, dir: String): DataFrame = {
    val d = par(spark, t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")), "doc_id")
      .select(
        (m48Col("text") % ShardCount).as("shard"),
        expr("cast(size(split(text, ' ')) as bigint)").as("toks"))
    val perShard = d.groupBy(col("shard")).agg(
      count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    perShard.crossJoin(broadcast(
        perShard.agg(sum(col("n_tokens")).as("tot"))))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 2000000 + tot) div (2 * tot)").as("share_ppm"))
  }

  /** Oracle CTE chain shared by [[dWinnow]] and [[dWinnowPairs]]: md5 of
    * every 8-gram (`grams`) and, in `sel`, the minimum over each window of
    * 4 consecutive grams — the winnowing fingerprint candidates.
    */
  private val winnowSelSql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
      |grams AS (
      |  SELECT doc_id, i, length(text) - 7 AS ngrams,
      |    md5(substr(text, CAST(i AS INTEGER), 8)) AS h
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(1, length(text) - 7)) AS i
      |        FROM d)),
      |sel AS (
      |  SELECT doc_id,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
      |    i, ngrams
      |  FROM grams)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("d_exact_dedup", dExactDedup, Some(
      """SELECT sha256(text) AS h, count(*) AS cnt, min(doc_id) AS canonical
        |FROM documents GROUP BY 1""".stripMargin)),
    QueryDef("d_token_count", dTokenCount, Some(
      """SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin)),
    QueryDef("d_token_regex", dTokenRegex, Some(
      """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(list_distinct(list_filter(toks, t -> regexp_matches(t, '^[A-Za-z0-9]')))) AS BIGINT) AS n_distinct_words
        |FROM (SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9_]+|[^\sA-Za-z0-9_]') AS toks
        |      FROM documents)""".stripMargin)),
    QueryDef("d_lang_id", dLangId, Some(
      """SELECT doc_id, en_hits, CASE WHEN en_hits >= 1 THEN 'en' ELSE 'unk' END AS predicted FROM (
        |  SELECT doc_id,
        |    CAST((length(text) - length(replace(text, ' the ', ''))) / 5
        |      + (length(text) - length(replace(text, ' and ', ''))) / 5
        |      + (length(text) - length(replace(text, ' of ', ''))) / 4 AS BIGINT) AS en_hits
        |  FROM documents)""".stripMargin)),
    QueryDef("d_quality", dQuality, Some(
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
        |  CAST(length(text) - length(replace(text, '.', '')) AS BIGINT) AS n_dots,
        |  CAST(length(text) - length(replace(text, ',', '')) AS BIGINT) AS n_commas
        |FROM documents""".stripMargin)),
    QueryDef("d_ngram_jaccard_pairs", dNgramJaccardPairs, Some(
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |grams AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 8) AS g
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i FROM d)),
        |gdf AS (SELECT g, count(*) AS df FROM grams GROUP BY 1),
        |rare AS (SELECT grams.doc_id, grams.g FROM grams JOIN gdf USING (g) WHERE gdf.df <= $NgramDfCap),
        |sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM rare x JOIN rare y ON x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, inter, round(inter / (sa.n + sb.n - inter), 6) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.05""".stripMargin)),
    QueryDef("d_winnow", dWinnow, Some(
      s"""$winnowSelSql
        |SELECT DISTINCT doc_id, fp FROM sel WHERE i <= ngrams - 3""".stripMargin)),
    QueryDef("d_winnow_pairs", dWinnowPairs, Some(
      s"""$winnowSelSql,
        |w AS (SELECT DISTINCT doc_id, fp FROM sel WHERE i <= ngrams - 3),
        |fdf AS (SELECT fp, count(*) AS c FROM w GROUP BY 1),
        |kept AS (SELECT w.doc_id, w.fp FROM w JOIN fdf USING (fp) WHERE c <= $NgramDfCap),
        |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS overlap
        |  FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.a, p.b, p.overlap, sa.n AS na, sb.n AS nb,
        |  round(CAST(p.overlap AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.a
        |JOIN sizes sb ON sb.doc_id = p.b
        |WHERE p.overlap >= 2""".stripMargin)),
    QueryDef("d_ngram_df_stats", dNgramDfStats, Some(
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |grams AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 8) AS g
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i FROM d)),
        |gdf AS (SELECT g, count(*) AS df FROM grams GROUP BY 1)
        |SELECT count(*) AS distinct_grams,
        |  CAST(sum(CASE WHEN df <= $NgramDfCap THEN 1 ELSE 0 END) AS BIGINT) AS kept_grams,
        |  CAST(sum(CASE WHEN df > $NgramDfCap THEN 1 ELSE 0 END) AS BIGINT) AS hot_grams,
        |  max(df) AS max_df
        |FROM gdf""".stripMargin)),
    QueryDef("d_rollup_stats", dRollupStats, Some(
      """SELECT lang, source, count(*) AS docs,
        |  CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin)),
    QueryDef("d_curation", dCuration, Some(
      """WITH d AS (
        |  SELECT doc_id, lang, source, text,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
        |  FROM documents),
        |q AS (SELECT *, n_chars >= 100 AND n_spaces * 100 >= n_chars * 5 AS quality_ok FROM d),
        |qok AS (SELECT *, md5(text) AS h FROM q WHERE quality_ok),
        |keep AS (SELECT h, min(doc_id) AS keep_id FROM qok GROUP BY 1),
        |marked AS (
        |  SELECT qok.lang, qok.source, qok.doc_id <> keep.keep_id AS is_dup
        |  FROM qok JOIN keep USING (h)),
        |dup_stats AS (
        |  SELECT lang, source,
        |    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS drop_dup,
        |    CAST(sum(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS kept
        |  FROM marked GROUP BY 1, 2)
        |SELECT q.lang, q.source, count(*) AS docs,
        |  CAST(sum(CASE WHEN quality_ok THEN 0 ELSE 1 END) AS BIGINT) AS drop_quality,
        |  CAST(COALESCE(any_value(dup_stats.drop_dup), 0) AS BIGINT) AS drop_dup,
        |  CAST(COALESCE(any_value(dup_stats.kept), 0) AS BIGINT) AS kept
        |FROM q LEFT JOIN dup_stats ON q.lang = dup_stats.lang AND q.source = dup_stats.source
        |GROUP BY 1, 2""".stripMargin)),
    QueryDef("d_ngram_shingles", dNgramShingles, Some(
      """SELECT doc_id, count(DISTINCT substr(text, CAST(i AS INTEGER), 5)) AS n_shingles
        |FROM (
        |  SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS i
        |  FROM documents WHERE length(text) >= 5)
        |GROUP BY doc_id""".stripMargin)),
    // PII scrub: identical augmentation arithmetic, identical patterns
    // (dialect-identical regex subset), identical email→IP→phone global
    // scrub order — counts and scrubbed-text md5 must both match
    QueryDef("d_pii_scrub", dPiiScrub, Some(
      s"""WITH aug AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail-' || CAST(doc_id % 13 AS VARCHAR) || '.example.com now' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' node 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.' || CAST(doc_id % 200 AS VARCHAR) || ' up' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) || '-' || CAST((doc_id * 3) % 9000 + 1000 AS VARCHAR) || ' soon' ELSE '' END
        |    AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '$PiiEmail')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(aug, '$PiiIp')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(aug, '$PiiPhone')) AS BIGINT) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(aug, '$PiiEmail', '<EMAIL>', 'g'), '$PiiIp', '<IP>', 'g'), '$PiiPhone', '<PHONE>', 'g')) AS scrub_md5
        |FROM aug""".stripMargin)),
    // gram familiarity: model agg + corpus-relative rarity + the exact
    // round-half-up micro divisions, all integer — replayed verbatim
    QueryDef("d_gram_quality", dGramQuality, Some(
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 3),
        |g AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS gram
        |      FROM (SELECT doc_id, text,
        |              unnest(generate_series(1, len(text) - 2)) AS i
        |            FROM d)),
        |m AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
        |s AS (SELECT count(*) AS dd, sum(cnt) AS tt FROM m),
        |j AS (SELECT g.doc_id, m.cnt,
        |        (2 * CAST(m.cnt AS HUGEINT) * s.dd < s.tt) AS rare
        |      FROM g JOIN m USING (gram) CROSS JOIN s),
        |a AS (SELECT doc_id, count(*) AS n_grams, sum(cnt) AS sc,
        |        sum(CASE WHEN rare THEN 1 ELSE 0 END) AS rc
        |      FROM j GROUP BY 1)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST((sc * 2000000 + n_grams) // (2 * n_grams) AS BIGINT)
        |    AS mean_freq_micro,
        |  CAST((rc * 2000000 + n_grams) // (2 * n_grams) AS BIGINT)
        |    AS rare_ppm
        |FROM a""".stripMargin)),
    // domain quota: the TopKBy (score desc, id asc) total order equals
    // the window rank over (md5-prefix asc, doc_id asc)
    QueryDef("d_quota_sample", dQuotaSample, Some(
      s"""WITH d AS (SELECT source, doc_id, md5(text) AS m
        |           FROM documents WHERE text IS NOT NULL)
        |SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id, CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY ${h48Sql("m")} ASC, doc_id ASC) AS BIGINT) AS rk
        |  FROM d)
        |WHERE rk <= $DomainQuota""".stripMargin)),
    // vocab + OOV: deterministic top-V boundary (count desc, token asc),
    // exact round-half-up ppm
    QueryDef("d_vocab_oov", dVocabOov, Some(
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |vocab AS (
        |  SELECT tok FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1)
        |  ORDER BY cnt DESC, tok ASC LIMIT $VocabSize)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov,
        |  CAST((sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 2000000 + count(*))
        |    // (2 * count(*)) AS BIGINT) AS oov_ppm
        |FROM toks LEFT JOIN vocab v USING (tok) GROUP BY doc_id""".stripMargin)),
    // Bloom membership: identical probe arithmetic (8-nibble Horner mod
    // m, m = greatest(64, 8·|store|)), identical store/batch split
    QueryDef("d_bloom_dedup", dBloomDedup, Some(
      s"""WITH d0 AS (SELECT doc_id, md5(text) AS m0
        |           FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT a.doc_id,
        |        CASE WHEN a.doc_id % 10 = 1 AND b.m0 IS NOT NULL
        |             THEN b.m0 ELSE a.m0 END AS m
        |      FROM d0 a LEFT JOIN d0 b ON b.doc_id = a.doc_id - 1),
        |params AS (SELECT greatest(64, 8 * count(*)) AS mm
        |           FROM d WHERE doc_id % 2 = 0),
        |pos AS (SELECT doc_id, m, hv % mm AS pos FROM (
        |    SELECT doc_id, m, unnest([
        |      ${hexSql("m", 1, 8)},
        |      ${hexSql("m", 9, 8)},
        |      ${hexSql("m", 17, 8)},
        |      ${hexSql("m", 25, 8)}]) AS hv FROM d) CROSS JOIN params),
        |bits AS (SELECT DISTINCT pos FROM pos WHERE doc_id % 2 = 0),
        |probe AS (
        |  SELECT p.doc_id, p.m,
        |    CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS bits_set
        |  FROM (SELECT * FROM pos WHERE doc_id % 2 = 1) p
        |  LEFT JOIN bits b USING (pos) GROUP BY 1, 2),
        |store AS (SELECT DISTINCT m FROM d WHERE doc_id % 2 = 0)
        |SELECT probe.doc_id, bits_set, bits_set = 4 AS bloom_hit,
        |  s.m IS NOT NULL AS exact_dup
        |FROM probe LEFT JOIN store s USING (m)""".stripMargin)),
    // paragraph dedup: identical fixed-window split, first-writer =
    // min (doc_id, pid) struct, kept text reassembled with the same
    // ' ' / '\n' joins before hashing
    QueryDef("d_para_dedup", dParaDedup, Some(
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents WHERE text IS NOT NULL),
        |paras AS (
        |  SELECT doc_id, CAST(pid AS BIGINT) AS pid,
        |    array_to_string(ts[pid * $ParaTokens + 1 : pid * $ParaTokens + $ParaTokens], ' ') AS para
        |  FROM (SELECT doc_id, ts,
        |          unnest(range((len(ts) + ${ParaTokens - 1}) // $ParaTokens)) AS pid
        |        FROM tok)),
        |fw AS (SELECT md5(para) AS h,
        |         min(struct_pack(d := doc_id, p := pid)) AS w
        |       FROM paras GROUP BY 1),
        |v AS (SELECT p.doc_id, p.pid, p.para,
        |        f.w.d = p.doc_id AND f.w.p = p.pid AS keep
        |      FROM paras p JOIN fw f ON f.h = md5(p.para)),
        |agg AS (SELECT doc_id, count(*) AS n_paras,
        |          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |        FROM v GROUP BY 1),
        |kt AS (SELECT doc_id,
        |         string_agg(para, chr(10) ORDER BY pid) AS kept_text
        |       FROM v WHERE keep GROUP BY 1)
        |SELECT agg.doc_id, n_paras, n_kept,
        |  md5(coalesce(kept_text, '')) AS kept_md5
        |FROM agg LEFT JOIN kt USING (doc_id)""".stripMargin)),
    // tf·idf top terms: identical integer score (tf·SCALE // df), the
    // top_k_by (score desc, tid asc) total order = the window rank
    QueryDef("d_tfidf_topterms", dTfidfTopterms, Some(
      s"""WITH toks AS (
        |  SELECT doc_id, tok, ${hexSql("md5(tok)", 1, 15)} AS tid
        |  FROM (SELECT doc_id,
        |          unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
        |        FROM documents WHERE text IS NOT NULL)),
        |tf AS (SELECT doc_id, tid, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tid, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, tid FROM toks) GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, tid, tf * $TfidfScale // df AS score
        |  FROM tf JOIN df USING (tid)),
        |top AS (
        |  SELECT doc_id, tid, score, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, tid ASC) AS BIGINT) AS rk
        |  FROM scored),
        |vocab AS (SELECT DISTINCT tok, tid FROM toks)
        |SELECT doc_id, rk, tok, score
        |FROM top JOIN vocab USING (tid) WHERE rk <= $TfidfK""".stripMargin)),
    // mixture apportionment: identical Hamilton arithmetic (exact
    // integer floor + largest-remainder extras, ties (lang, source)
    // asc) and the d_quota_sample md5-prefix selection order
    QueryDef("d_mix_alloc", dMixAlloc, Some(
      s"""WITH d AS (SELECT lang, source, doc_id, md5(text) AS m
        |           FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT lang, source, count(*) AS cnt FROM d GROUP BY 1, 2),
        |tot AS (SELECT sum(cnt) AS c_total FROM g),
        |g2 AS (SELECT lang, source, cnt,
        |         $MixTarget * cnt // c_total AS fl,
        |         $MixTarget * cnt % c_total AS rem
        |       FROM g, tot),
        |r AS (SELECT $MixTarget - sum(fl) AS extra FROM g2),
        |rk AS (SELECT lang, source, fl, row_number() OVER (
        |         ORDER BY rem DESC, lang ASC, source ASC) AS grank
        |       FROM g2),
        |alloc AS (SELECT lang, source,
        |            CAST(fl + CASE WHEN grank <= extra THEN 1 ELSE 0 END
        |              AS BIGINT) AS alloc
        |          FROM rk, r),
        |sel AS (SELECT lang, source, doc_id, CAST(row_number() OVER (
        |          PARTITION BY lang, source
        |          ORDER BY ${h48Sql("m")} ASC, doc_id ASC) AS BIGINT) AS rk
        |        FROM d)
        |SELECT sel.lang, sel.source, doc_id, rk, alloc
        |FROM sel JOIN alloc USING (lang, source) WHERE rk <= alloc""".stripMargin)),
    // language rebalance: identical equal-share Hamilton targets
    // (alphabetic-rank extras) + the same md5-prefix per-lang rank;
    // copies arithmetic replayed verbatim
    QueryDef("d_lang_balance", dLangBalance, Some(
      s"""WITH d AS (SELECT lang, doc_id, md5(text) AS m
        |           FROM documents
        |           WHERE text IS NOT NULL AND lang IS NOT NULL),
        |census AS (SELECT lang, count(*) AS cnt FROM d GROUP BY 1),
        |scal AS (SELECT sum(cnt) AS c_total, count(*) AS n_langs
        |         FROM census),
        |tgt AS (SELECT lang, cnt,
        |          c_total // n_langs + CASE WHEN
        |            CAST(row_number() OVER (ORDER BY lang ASC) AS BIGINT)
        |              <= c_total % n_langs THEN 1 ELSE 0 END AS u
        |        FROM census, scal),
        |rk AS (SELECT lang, doc_id, CAST(row_number() OVER (
        |         PARTITION BY lang
        |         ORDER BY ${h48Sql("m")} ASC, doc_id ASC) AS BIGINT) AS rk
        |       FROM d)
        |SELECT rk.lang, doc_id, rk,
        |  CAST(u // cnt + CASE WHEN rk.rk <= u % cnt THEN 1 ELSE 0 END
        |    AS BIGINT) AS copies
        |FROM rk JOIN tgt USING (lang)
        |WHERE u // cnt + CASE WHEN rk.rk <= u % cnt THEN 1 ELSE 0 END
        |  > 0""".stripMargin)),
    // shard balance: identical content-keyed shard id and exact
    // round-half-up token-share ppm
    QueryDef("d_shard_stats", dShardStats, Some(
      s"""WITH d0 AS (SELECT md5(text) AS m,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT ${h48Sql("m")} % $ShardCount AS shard, toks FROM d0),
        |per AS (SELECT shard, count(*) AS n_docs, sum(toks) AS n_tokens
        |        FROM d GROUP BY 1),
        |tot AS (SELECT sum(n_tokens) AS tot FROM per)
        |SELECT shard, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST((n_tokens * 2000000 + tot) // (2 * tot) AS BIGINT)
        |    AS share_ppm
        |FROM per, tot""".stripMargin))
  )
}
