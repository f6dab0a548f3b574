package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{CloneQueries, CurationQueries, NearDupQueries, SpanQueries}

/** Smoke: every registered query runs on sf0.001 and yields rows; every
  * oracle key refers to a real query. The value-level check against
  * DuckDB is the driver's job (graft.Verify + oracle_sql.json).
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("oracle keys are a subset of query keys") {
    val missing = Queries.oracle.keySet.diff(Queries.all.keySet)
    assert(missing.isEmpty, s"oracle entries without query impl: $missing")
  }

  Queries.all.foreach { case (name, fn) =>
    test(s"query $name runs and returns rows on sf0.001") {
      val df = fn(spark, dir)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }

  test("entry returns clusters") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("d_minhash_cluster groups exact and near dups, separates unrelated") {
    import spark.implicits._
    val base = "The quick brown fox jumps over the lazy dog. " * 8
    val near = base.replace("lazy dog", "idle dog")
    val other = "Entirely different content about spark shuffles. " * 8
    val tmp = java.nio.file.Files.createTempDirectory("mhc").toString
    Seq((0L, base), (1L, base), (2L, near), (3L, other))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = NearDupQueries.dMinhashCluster(spark, tmp)
      .as[(Long, Long)].collect().toMap
    assert(got(0L) === got(1L), "exact dups must share a cluster")
    assert(got(0L) === got(2L), "near dup (1-word edit) must join the cluster")
    assert(got(3L) !== got(0L), "unrelated doc must stay out")
    assert(got.size === 4)
  }

  test("d_self_rep measures within-doc repeated-gram coverage") {
    import spark.implicits._
    val selfDup = "0123456789abcdef" * 4 // every 16-gram recurs → full cover
    val unique = "The unique text never repeats anything at all in here."
    val twoIslands = "X" * 20 + "abcdefghijklmnopqrstuvwxyz0123" + "Y" * 20
    val tmp = java.nio.file.Files.createTempDirectory("srep").toString
    Seq((0L, selfDup), (1L, unique), (2L, "short"), (3L, twoIslands))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SpanQueries.dSelfRep(spark, tmp)
      .select("doc_id", "rep_spans", "rep_chars", "char_len")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(0L) === ((0L, 1L, 64L, 64L)), "periodic doc fully covered")
    assert(got(1L)._2 === 0L && got(1L)._3 === 0L, "unique doc scores zero")
    assert(!got.contains(2L), "sub-gram docs carry no signal")
    assert(got(3L) === ((3L, 2L, 40L, 70L)),
      "two X/Y runs are two islands of 20 chars each")
  }

  test("d_neardup_prune keeps the longest cluster member, ties to min id") {
    import spark.implicits._
    val base = "The quick brown fox jumps over the lazy dog. " * 8
    val longer = base + "An extra closing sentence rides along."
    val other = "Entirely different content about spark shuffles. " * 8
    val tmp = java.nio.file.Files.createTempDirectory("ndp").toString
    // 0 and 2 are exact dups; 1 is a longer near-dup — the canonical;
    // 3 is unrelated and must survive as its own singleton cluster
    Seq((0L, base), (1L, longer), (2L, base), (3L, other))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = NearDupQueries.dNeardupPrune(spark, tmp)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (id, cl, sz, canon, keep) => id -> ((cl, sz, canon, keep)) }
      .toMap
    assert(got(0L)._1 === got(1L)._1 && got(1L)._1 === got(2L)._1,
      "dup trio must share a cluster")
    assert(got(0L)._2 === 3L, "cluster size")
    assert(got(0L)._3 === 1L, "canonical must be the longest member")
    assert(got(1L)._4 === 1L && got(0L)._4 === 0L && got(2L)._4 === 0L,
      "only the canonical is kept")
    assert(got(3L) === ((3L, 1L, 3L, 1L)), "singleton keeps itself")
  }

  test("d_simhash_md5 ranks exact dups at hamming 0, keeps unrelated out") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    // ONE occurrence changed out of 60 words: word-granularity SimHash is
    // coarse, so a sweeping edit (all 5 "lazy"s) legitimately exceeds the
    // radius — verified hamming for this edit is 2
    val near = base.replaceFirst("lazy dog", "lazy cat")
    val other = ("completely different shuffle partition spill broadcast " +
      "codegen catalyst tungsten executor ") * 5
    val tmp = java.nio.file.Files.createTempDirectory("shm").toString
    Seq((0L, base), (1L, base), (2L, near), (3L, other))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = NearDupQueries.dSimhashMd5(spark, tmp)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(got((0L, 1L)) === 0L, "identical docs must pair at hamming 0")
    assert(got.get((0L, 2L)).exists(_ <= 3L),
      "one-word edit must stay within the radius")
    assert(!got.keySet.exists { case (a, b) => (a min b, a max b) match {
      case (x, 3L) => x != 3L
      case _ => false
    }}, "unrelated doc must not pair")
  }

  test("d_winnow: shared >=11-cp substring guarantees a shared fingerprint") {
    import spark.implicits._
    val common = "thequickbrownfox" // 16 cp >= w + gram - 1 = 11
    val a = "aaaa bbbb cccc " + common + " dddd eeee"
    val b = "zzzz yyyy xxxx " + common + " wwww vvvv"
    val c = "0123456789 completely disjoint text 9876543210"
    val tmp = java.nio.file.Files.createTempDirectory("win").toString
    Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fps = CurationQueries.dWinnow(spark, tmp)
      .as[(Long, String)].collect().groupBy(_._1)
      .map { case (d, r) => d -> r.map(_._2).toSet }
    assert(fps(0L).intersect(fps(1L)).nonEmpty,
      "winnowing guarantee: window+gram-1 shared cps => shared fp")
    // no shared 8-gram with doc c => fingerprint sets cannot intersect
    assert(fps(0L).intersect(fps(2L)).isEmpty)
  }

  test("d_dup_spans: cross-doc and within-doc 16-cp dup spans, merged maximal") {
    import spark.implicits._
    // the chars flanking every shared block differ between its copies —
    // identical flanks would (correctly) extend the maximal span past
    // the block, so the fixture pins exact expected coordinates
    val shared = "SHAREDBLOCK0a1b2c3d4e5f6g7h8i9" // 30 cps
    assert(shared.length === 30)
    val doc0 = "p0:abcdefgh-1234567A" + shared + "Ct0:ijklmnop87654321"
    val doc1 = "p1:qrstuvwx-BCDEFGHB" + shared + "Dt1:yzYZwxWXHGFEDCB"
    val doc2 = "totally different content: 1234567890 qwertyuiop zxcvbnm"
    val inner = "INNERDUPBLOCKxyz0123" // 20 cps, repeated within doc3
    assert(inner.length === 20)
    val doc3 = inner + "Xgap_0-ABCQ" + inner + "Zend"
    val tmp = java.nio.file.Files.createTempDirectory("dsp").toString
    Seq((0L, doc0), (1L, doc1), (2L, doc2), (3L, doc3))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SpanQueries.dDupSpans(spark, tmp)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).sortBy(_._1).toList).toMap
    // the shared 30-cp block: grams fully inside it (15) merge into ONE
    // span of exactly the block, at 1-based cp position 21 (20-cp prefix)
    assert(got(0L) === List((21L, 30L, 15L)))
    assert(got(1L) === List((21L, 30L, 15L)))
    // within-doc repetition counts: two copies of the 20-cp block, far
    // enough apart (gap 27 > 16) to stay two separate spans
    assert(got(3L) === List((1L, 20L, 5L), (32L, 20L, 5L)))
    assert(!got.contains(2L), "doc with no duplicated 16-gram has no span")
  }

  test("d_dup_span_pairs: cross-doc exact runs; within-doc dups and hot grams excluded") {
    import spark.implicits._
    val shared = "SHAREDBLOCK0a1b2c3d4e5f6g7h8i9" // 30 cps
    val doc0 = "p0:abcdefgh-1234567A" + shared + "Ct0:ijklmnop87654321"
    val doc1 = "p1:qrstuvwx-BCDEFGHB" + shared + "Dt1:yzYZwxWXHGFEDCB"
    // within-doc-only repetition: must contribute NO pair rows
    val inner = "INNERDUPBLOCKxyz0123"
    val doc3 = inner + "Xgap_0-ABCQ" + inner + "Zend"
    // 33 docs sharing one 16-cp gram -> occurrence count 33 > cap 32 ->
    // boilerplate, stream-drained, zero pair rows. Flanks are ONE char,
    // unique per doc: any window other than the boiler itself includes
    // a flank char, so only the hot gram is shared
    val boiler = "BOILERPLATE16CPS"
    assert(boiler.length === 16)
    val hot = (0 until 33).map { i =>
      (100L + i, s"${(200 + i).toChar}$boiler${(300 + i).toChar}")
    }
    val tmp = java.nio.file.Files.createTempDirectory("dspp").toString
    (Seq((0L, doc0), (1L, doc1), (3L, doc3)) ++ hot)
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SpanQueries.dDupSpanPairs(spark, tmp)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    // the only surviving match: docs 0/1's shared 30-cp block -> one
    // maximal run of 15 consecutive grams on diagonal 0
    assert(got === List((0L, 1L, 21L, 21L, 15L, 30L)))
  }

  test("d_dup_trim cuts every duplicated span, keeps the rest byte-exact") {
    import spark.implicits._
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val shared = "SHAREDBLOCK0a1b2c3d4e5f6g7h8i9" // 30 cps at pos 21
    val doc0 = "p0:abcdefgh-1234567A" + shared + "Ct0:ijklmnop87654321"
    val doc1 = "p1:qrstuvwx-BCDEFGHB" + shared + "Dt1:yzYZwxWXHGFEDCB"
    val doc2 = "totally different content: 1234567890 qwertyuiop zxcvbnm"
    val inner = "INNERDUPBLOCKxyz0123" // spans [1,20] and [32,51] in doc3
    val doc3 = inner + "Xgap_0-ABCQ" + inner + "Zend"
    val twin = "IDENTICALTWINSdocABCDEFG" // full-doc span -> kept text ""
    val tmp = java.nio.file.Files.createTempDirectory("dtr").toString
    Seq((0L, doc0), (1L, doc1), (2L, doc2), (3L, doc3),
      (10L, twin), (11L, twin))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SpanQueries.dDupTrim(spark, tmp)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val kept0 = doc0.substring(0, 20) + doc0.substring(50)
    assert(got(0L) === ((doc0.length.toLong, 40L, 30L, md5hex(kept0))))
    assert(got(2L) === ((doc2.length.toLong, doc2.length.toLong, 0L,
      md5hex(doc2))), "span-free doc keeps everything")
    assert(got(3L) === ((55L, 15L, 40L, md5hex("Xgap_0-ABCQ" + "Zend"))))
    assert(got(10L) === ((24L, 0L, 24L, md5hex(""))),
      "fully-duplicated doc trims to the empty string")
    assert(got.size === 6)
  }

  test("d_dup_span_pairs max run cross-validates the suffix-automaton LCS") {
    import spark.implicits._
    // planted shared blocks inside otherwise-random text: the longest
    // pair run from the gram-diagonal engine must equal the longest
    // common substring from the independent suffix automaton (two
    // implementations, no shared code), and a 15-cp block (< G=16)
    // must be invisible to the gram engine while the automaton sees it
    val rnd = new scala.util.Random(42)
    def uniq(n: Int): String =
      Array.fill(n)("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        .charAt(rnd.nextInt(62))).mkString
    val block23 = uniq(23); val block40 = uniq(40); val block15 = uniq(15)
    val docs = Seq(
      (0L, uniq(80) + block23 + uniq(80)),
      (1L, uniq(80) + block23 + uniq(80)),
      (2L, uniq(60) + block40 + uniq(60)),
      (3L, uniq(60) + block40 + uniq(60)),
      (4L, uniq(70) + block15 + uniq(70)),
      (5L, uniq(70) + block15 + uniq(70)))
    val text = docs.toMap
    val tmp = java.nio.file.Files.createTempDirectory("dslcs").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val runs = SpanQueries.dDupSpanPairs(spark, tmp)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._6).max).toMap
    assert(runs.keySet === Set((0L, 1L), (2L, 3L)))
    for (((a, b), maxRun) <- runs)
      assert(maxRun.toInt ===
        graft.functions.Lcs.longestCommonSubstring(text(a), text(b)))
    assert(graft.functions.Lcs.longestCommonSubstring(text(4L), text(5L)) === 15,
      "the automaton sees the sub-G block the gram engine must not")
  }

  test("d_dup_span_stats: coverage fractions incl. a zero-span doc") {
    import spark.implicits._
    val shared = "SHAREDBLOCK0a1b2c3d4e5f6g7h8i9"
    val doc0 = "p0:abcdefgh-1234567A" + shared + "Ct0:ijklmnop87654321"
    val doc1 = "p1:qrstuvwx-BCDEFGHB" + shared + "Dt1:yzYZwxWXHGFEDCB"
    val doc2 = "totally different content: 1234567890 qwertyuiop zxcvbnm"
    val tmp = java.nio.file.Files.createTempDirectory("dss").toString
    Seq((0L, doc0), (1L, doc1), (2L, doc2)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SpanQueries.dDupSpanStats(spark, tmp)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val len0 = doc0.length.toLong
    // dup_ppm = round-half-up(1e6 * dup_chars / char_len) in exact ints
    assert(got(0L) === ((1L, 30L, len0,
      (30L * 2000000L + len0) / (2L * len0))))
    assert(got(2L) === ((0L, 0L, doc2.length.toLong, 0L)),
      "span-free doc still reports zero coverage")
    assert(got.size === 3)
  }

  test("d_decontam flags training docs sharing an 8-token shingle with the eval slice") {
    import spark.implicits._
    def md5Nibble(s: String): Char = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f"${(d(0) & 0xff)}%02x".charAt(0)
    }
    // append salt tokens until the md5-derived eval assignment lands where
    // the test needs it (the first 8 tokens — the shingle — stay intact)
    def salted(base: String, wantEval: Boolean): String =
      Iterator.from(0).map(i => base + " salt" + i)
        .find(t => ("01".contains(md5Nibble(t))) == wantEval).get
    val evalDoc = salted("alpha beta gamma delta epsilon zeta eta theta", wantEval = true)
    val dirty = salted("alpha beta gamma delta epsilon zeta eta theta more stuff here", wantEval = false)
    val clean = salted("one two three four five six seven eight nine", wantEval = false)
    val tmp = java.nio.file.Files.createTempDirectory("dct").toString
    Seq((0L, evalDoc), (1L, dirty), (2L, clean)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SpanQueries.dDecontam(spark, tmp)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // dirty: 12 tokens -> 5 shingles; exactly [alpha..theta] is in the
    // eval set (the eval doc's salt token breaks its other shingle)
    assert(got(1L) === ((5L, 1L, true)))
    assert(got(2L) === ((3L, 0L, false)))
    assert(!got.contains(0L), "eval docs are not scored")
  }

  test("d_clone_pairs: bag-overlap clones, lossless prefix filter vs brute force") {
    import spark.implicits._
    // randomized corpus over a shared vocabulary (the regime where the
    // prefix filter earns its keep: common tokens are in nobody's prefix)
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(40)(i => s"tok$i")
    def doc(): String = Seq.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val bases = Seq.tabulate(12)(i => (i.toLong, doc()))
    // planted clones: exact token-bag permutation (overlap 1.0) and a
    // 3-token edit out of 30 (overlap 27/30 = 0.9 >= 0.7)
    val perm = bases.head._2.split(" ").reverse.mkString(" ")
    val edited = bases.head._2.split(" ").zipWithIndex
      .map { case (t, i) => if (i < 3) "zz" + i else t }.mkString(" ")
    val all = bases ++ Seq((100L, perm), (101L, edited))
    val tmp = java.nio.file.Files.createTempDirectory("clone").toString
    all.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CloneQueries.dClonePairs(spark, tmp)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // brute force, NO filtering: bag counts + pairwise sum-of-min
    def bag(t: String): Map[String, Int] =
      t.toLowerCase.split("[^a-z0-9_]+").filter(_.nonEmpty)
        .groupBy(identity).map { case (k, v) => k -> v.length }
    val bags = all.map { case (id, t) => id -> bag(t) }.toMap
    val expect = (for {
      Seq(a, b) <- all.map(_._1).sorted.combinations(2)
      na = bags(a).values.sum.toLong; nb = bags(b).values.sum.toLong
      inter = bags(a).map { case (t, c) => math.min(c, bags(b).getOrElse(t, 0)) }
        .sum.toLong
      if inter * 100 >= math.max(na, nb) * 70
    } yield (a, b) -> ((na, nb, inter))).toMap
    assert(got === expect, "prefix-filtered pairs must equal brute force")
    assert(got.contains((0L, 100L)) && got((0L, 100L))._3 === 30L,
      "permuted token bag is a full-overlap clone")
    assert(got.contains((0L, 101L)) && got((0L, 101L))._3 === 27L,
      "3-of-30 token edit stays above theta=0.7")
    // groups: 0, 100, 101 share a class labeled by min id 0
    val groups = CloneQueries.dCloneGroups(spark, tmp)
      .as[(Long, Long)].collect().toMap
    assert(groups(100L) === groups(0L) && groups(101L) === groups(0L))
    assert(groups.size === all.size, "every doc labeled, singletons included")
  }

  test("d_curation partitions every doc into exactly one bucket") {
    import spark.implicits._
    val good = "spark shuffle partition " * 10 // 240 chars, 25% spaces
    val tmp = java.nio.file.Files.createTempDirectory("cur").toString
    Seq(
      (0L, "en", "s0", good),            // kept (first writer of good)
      (1L, "en", "s0", good),            // exact dup of 0 -> drop_dup
      (2L, "en", "s1", good),            // exact dup of 0 -> drop_dup
      (3L, "en", "s0", "short"),         // quality: too short
      (4L, "fr", "s1", "x".repeat(200)), // quality: no spaces
      (5L, "fr", "s1", good + "tail"))   // kept (distinct text)
      .toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = CurationQueries.dCuration(spark, tmp)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map { case (l, s, d, dq, dd, k) => (l, s) -> ((d, dq, dd, k)) }.toMap
    assert(rows(("en", "s0")) === ((3L, 1L, 1L, 1L)))
    assert(rows(("en", "s1")) === ((1L, 0L, 1L, 0L)))
    assert(rows(("fr", "s1")) === ((2L, 1L, 0L, 1L)))
    rows.values.foreach { case (docs, dq, dd, k) =>
      assert(docs === dq + dd + k, "every doc lands in exactly one bucket")
    }
  }

  /** 48-bit md5 prefix of a text, the content-rank key d_quota_sample and
    * the oracle share (first 6 digest bytes, big-endian, unsigned).
    */
  private def m48(text: String): Long =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).take(6)
      .foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))

  test("d_quota_sample caps hot domains, keeps cold ones whole, md5 order") {
    import spark.implicits._
    val big = (0 until 25).map(i => (i.toLong, "big", s"hot domain doc $i"))
    val small = (0 until 3).map(i => (100L + i, "small", s"cold doc $i"))
    val tmp = java.nio.file.Files.createTempDirectory("quota").toString
    (big ++ small).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CurationQueries.dQuotaSample(spark, tmp)
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (s, rs) =>
        s -> rs.sortBy(_._3).map(r => (r._2, r._3)).toSeq
      }
    assert(got("small").map(_._1).toSet === small.map(_._1).toSet,
      "under-quota domain is kept whole")
    assert(got("big").size === 10, "hot domain capped at the quota")
    // replay the content-deterministic selection: md5-prefix asc, id asc
    val expect = big.sortBy(d => (m48(d._3), d._1)).take(10).map(_._1)
    assert(got("big").map(_._1) === expect,
      "selection and rank order = (md5 48-bit prefix asc, doc_id asc)")
    assert(got("big").map(_._2) === (1L to 10L), "rk is 1-based and dense")
  }

  test("d_vocab_oov: top-V vocab boundary binds, exact round-half-up ppm") {
    import spark.implicits._
    // 16 core tokens appear 3x each (2x in doc A, 1x in doc B); doc B
    // adds 3 rare tokens -> vocab (V=16) = exactly the core tokens, the
    // rare ones fall outside the boundary
    val core = (0 until 16).map(i => f"tok$i%02d")
    val docA = (core ++ core).mkString(" ")
    val docB = (core ++ Seq("uniq1", "uniq2", "uniq3")).mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("oov").toString
    Seq((0L, docA), (1L, docB)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CurationQueries.dVocabOov(spark, tmp)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(0L) === ((32L, 0L, 0L)), "all-in-vocab doc has zero OOV")
    // doc B: 19 tokens, 3 OOV -> round_half_up(3e6/19) = 157895
    assert(got(1L) === ((19L, 3L, 157895L)))
  }

  test("d_vocab_oov is non-vacuous on the driver corpus (boundary binds)") {
    val oov = CurationQueries.dVocabOov(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("oov")).collect()(0).getLong(0)
    assert(oov > 0, "fixture corpus must produce real OOV tokens")
  }

  test("d_bloom_dedup: no false negatives, probe arithmetic replays") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"bloom fixture document $i"))
    val tmp = java.nio.file.Files.createTempDirectory("bloom").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CurationQueries.dBloomDedup(spark, tmp)
      .as[(Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet === (1L until 20L by 2L).toSet, "batch = odd ids")
    // local replay: store = even docs' original digests, m = 8*10 = 80,
    // probes = 4x 8-nibble md5 windows mod m; docs 1 and 11 re-send the
    // even neighbor's content
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val text = docs.toMap
    def digest(id: Long): String =
      if (id % 10 == 1) md5hex(text(id - 1)) else md5hex(text(id))
    val m = 80L
    // Seq, not Set: the engine explodes 4 probe rows per doc, so a
    // within-doc position collision is counted twice in bits_set
    def probes(hex: String): Seq[Long] =
      (0 until 4).map(j =>
        java.lang.Long.parseLong(hex.substring(8 * j, 8 * j + 8), 16) % m)
    val storeDigests = (0L until 20L by 2L).map(digest).toSet
    val bits = storeDigests.flatMap(probes(_).toSet)
    (1L until 20L by 2L).foreach { id =>
      val h = digest(id)
      val (bs, hit, dup) = got(id)
      assert(bs === probes(h).count(bits).toLong, s"bits_set replay id=$id")
      assert(hit === (bs === 4L), s"bloom_hit replay id=$id")
      assert(dup === storeDigests(h), s"exact_dup replay id=$id")
      assert(!dup || hit, s"Bloom false negative at id=$id")
    }
    assert(got(1L)._3 && got(11L)._3, "re-sent docs are exact dups")
    assert(got(3L)._3 === false, "unique batch doc is not an exact dup")
  }

  test("d_para_dedup: first-writer paragraph drops, exact reconstruction") {
    import spark.implicits._
    def para(p: String) = (1 to 12).map(i => s"$p$i").mkString(" ")
    val (a, b, c, e) = (para("a"), para("b"), para("c"), para("e"))
    val dTail = (1 to 5).map(i => s"d$i").mkString(" ")
    val docs = Seq(
      (0L, s"$a $b"),     // writes A, B
      (1L, s"$b $c"),     // B dropped (first writer doc0), C kept
      (2L, s"$a $b"),     // exact dup -> fully dropped
      (3L, s"$a $dTail"), // A dropped, short trailing paragraph kept
      (4L, s"$e $e"))     // within-doc dup: second E dropped
    val tmp = java.nio.file.Files.createTempDirectory("para").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(x => f"$x%02x").mkString
    val got = CurationQueries.dParaDedup(spark, tmp)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(0L) === ((2L, 2L, md5hex(s"$a\n$b"))))
    assert(got(1L) === ((2L, 1L, md5hex(c))))
    assert(got(2L) === ((2L, 0L, md5hex(""))), "fully-deduped doc")
    assert(got(3L) === ((2L, 1L, md5hex(dTail))), "partial trailing window")
    assert(got(4L) === ((2L, 1L, md5hex(e))), "within-doc repeat dropped")
  }

  test("d_tfidf_topterms: exact integer tf-idf ranks") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tfidf").toString
    Seq((0L, "apple apple apple banana"), (1L, "banana cherry"),
      (2L, "date"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CurationQueries.dTfidfTopterms(spark, tmp)
      .as[(Long, Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // df: apple 1, banana 2, cherry 1, date 1; score = tf*1e9 div df
    assert(got((0L, 1L)) === (("apple", 3000000000L)))
    assert(got((0L, 2L)) === (("banana", 500000000L)))
    assert(got((1L, 1L)) === (("cherry", 1000000000L)))
    assert(got((1L, 2L)) === (("banana", 500000000L)))
    assert(got((2L, 1L)) === (("date", 1000000000L)))
    assert(got.size === 5, "fewer than k terms -> fewer rows, no padding")
  }

  test("d_mix_alloc: Hamilton apportionment, remainder tie, md5 selection") {
    import spark.implicits._
    // strata (en,s0)=13, (en,s1)=9, (fr,s2)=8 docs; C=30, T=24:
    // floors 10/7/6 (rems 12/6/12), R=1 extra -> the rem-12 TIE between
    // (en,s0) and (fr,s2) is cut by lang asc -> allocs 11/7/6
    val docs =
      (0 until 13).map(i => (i.toLong, "en", "s0", s"alpha doc $i")) ++
      (0 until 9).map(i => (100L + i, "en", "s1", s"beta doc $i")) ++
      (0 until 8).map(i => (200L + i, "fr", "s2", s"gamma doc $i"))
    val tmp = java.nio.file.Files.createTempDirectory("mix").toString
    docs.toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CurationQueries.dMixAlloc(spark, tmp)
      .as[(String, String, Long, Long, Long)].collect()
    assert(got.length === 24, "sum of allocations = T exactly")
    val byG = got.groupBy(r => (r._1, r._2))
    assert(byG(("en", "s0")).length === 11 && byG(("en", "s0")).head._5 === 11L)
    assert(byG(("en", "s1")).length === 7)
    assert(byG(("fr", "s2")).length === 6,
      "remainder tie goes to (en,s0) by lang asc")
    // selection replay: md5-48 asc, doc_id asc per stratum
    val expect = docs.groupBy(d => (d._2, d._3)).map { case (k, ds) =>
      k -> ds.sortBy(d => (m48(d._4), d._1)).map(_._1)
    }
    Seq((("en", "s0"), 11), (("en", "s1"), 7), (("fr", "s2"), 6)).foreach {
      case (k, n) =>
        assert(byG(k).sortBy(_._4).map(_._3).toSeq === expect(k).take(n),
          s"stratum $k selects its $n first docs in md5-prefix order")
    }
  }

  test("d_lang_balance: downsample + upsample arms, exact equal shares") {
    import spark.implicits._
    // en=7, fr=4; C=11, L=2 -> targets: en 6 (alphabetic extra), fr 5.
    // en (over share) downsamples to its 6 md5-first docs, copies 1;
    // fr (under share) upsamples: every doc once, md5-first doc twice
    val docs = (0 until 7).map(i => (i.toLong, "en", s"english doc $i")) ++
      (0 until 4).map(i => (100L + i, "fr", s"french doc $i"))
    val tmp = java.nio.file.Files.createTempDirectory("lb").toString
    docs.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CurationQueries.dLangBalance(spark, tmp)
      .as[(String, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (l, rs) =>
        l -> rs.sortBy(_._3).map(r => (r._2, r._4)).toSeq
      }
    val order = docs.groupBy(_._2).map { case (l, ds) =>
      l -> ds.sortBy(d => (m48(d._3), d._1)).map(_._1)
    }
    assert(got("en").map(_._1) === order("en").take(6),
      "en keeps its 6 md5-first docs (gets the C mod L extra by lang asc)")
    assert(got("en").forall(_._2 == 1L) && got("en").map(_._2).sum === 6L)
    assert(got("fr").map(_._1) === order("fr"),
      "under-share lang keeps every doc")
    assert(got("fr").map(_._2) === Seq(2L, 1L, 1L, 1L),
      "upsample: md5-first doc repeats, sum of copies = target 5")
  }

  test("d_shard_stats: content-keyed shards, exact token-share ppm") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, ("w " * (i % 5 + 1).toInt) + s"t$i")) // distinct texts, 2..6 tokens
    val tmp = java.nio.file.Files.createTempDirectory("shard").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = CurationQueries.dShardStats(spark, tmp)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // local replay of shard = m48 mod 8 over token mass
    val assign = docs.map { case (_, t) =>
      (m48(t) % 8, t.split(" ").length.toLong)
    }
    val per = assign.groupBy(_._1).map { case (s, xs) =>
      s -> ((xs.size.toLong, xs.map(_._2).sum))
    }
    val tot = assign.map(_._2).sum
    per.foreach { case (s, (nd, nt)) =>
      val ppm = (nt * 2000000L + tot) / (2L * tot)
      assert(got(s) === ((nd, nt, ppm)), s"shard $s replay")
    }
    assert(got.keySet === per.keySet, "only populated shards emit rows")
    assert(got.values.map(_._1).sum === 40L, "every doc lands in a shard")
  }
}
