package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The distributed suffix array must equal the sequential definition:
  * dense rank of every suffix in global lexicographic order.
  */
class SuffixArraySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rankMap(docs: Seq[(Long, String)]): Map[(Long, Long), Long] = {
    import spark.implicits._
    SuffixArray.ranks(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
  }

  /** Sequential oracle: sort all suffixes, dense-rank them. */
  private def brute(docs: Seq[(Long, String)]): Map[(Long, Long), Long] = {
    val sufs = for {
      (id, text) <- docs
      i <- 1 to text.length // test fixtures are BMP-only (1 cp = 1 char)
    } yield ((id, i.toLong), text.substring(i - 1))
    val order = sufs.map(_._2).distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i + 1).toLong }.toMap
    sufs.map { case (key, s) => key -> order(s) }.toMap
  }

  test("banana ranks match the sequential definition") {
    val docs = Seq((1L, "banana"))
    val got = rankMap(docs)
    // suffixes sorted: a < ana < anana < banana < na < nana
    assert(got === Map(
      (1L, 6L) -> 1L, (1L, 4L) -> 2L, (1L, 2L) -> 3L,
      (1L, 1L) -> 4L, (1L, 5L) -> 5L, (1L, 3L) -> 6L))
  }

  test("identical suffixes across documents share a dense rank") {
    val got = rankMap(Seq((1L, "abc"), (2L, "abc"), (3L, "")))
    assert(got((1L, 1L)) === got((2L, 1L)))
    assert(got((1L, 3L)) === got((2L, 3L)))
    assert(got.values.toSet === Set(1L, 2L, 3L), "dense over 3 distinct suffixes")
    assert(!got.keySet.exists(_._1 == 3L), "empty doc contributes no suffix")
  }

  test("random small-alphabet corpus matches brute force") {
    val rng = new scala.util.Random(42)
    val docs = (1L to 20L).map { id =>
      val len = rng.nextInt(41)
      id -> Array.fill(len)("ab".charAt(rng.nextInt(2))).mkString
    }.filter(_._2.nonEmpty)
    assert(rankMap(docs) === brute(docs))
  }

  test("prefixRanks(L) ties exactly on true L-codepoint prefix equality") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdXXefgh"), (2L, "abcdYYefgh"), (3L, "abcdXXefgZ"), (4L, "ab"))
    val got = SuffixArray.prefixRanks(docs.toDF("doc_id", "text"), 4L)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // positions with >= 4 cps remaining: same rank iff same first 4 cps
    val deep = for {
      (id, t) <- docs; i <- 1 to t.length - 3
    } yield ((id, i.toLong), t.substring(i - 1, i + 3))
    for {
      ((ka, pa), (kb, pb)) <- deep.combinations(2).map { case Seq(a, b) => (a, b) }
    } assert((got(ka._1 -> ka._2) == got(kb._1 -> kb._2)) === (pa == pb),
      s"$ka($pa) vs $kb($pb)")
    // shorter suffixes still rank, by full content: doc 4 "ab"/"b"
    assert(got.contains((4L, 1L)) && got.contains((4L, 2L)))
    assert(got((4L, 1L)) !== got((1L, 1L)), "short 'ab' != deep 'abcd...'")
  }

  test("d_sa_gram_stats matches a brute-force exact-gram count") {
    import spark.implicits._
    val shared = "0123456789abcdef" // one exact 16-gram planted in two docs
    val docs = Seq(
      (1L, "A" * 8 + shared + "B" * 8),
      (2L, "C" * 5 + shared + "D" * 11),
      (3L, "unique text with no repeats at all among these"),
      (4L, "short"))
    val d = docs.toDF("doc_id", "text")
    val lens = d.select(col("doc_id"), length(col("text")).as("char_len"))
      .filter(col("char_len") >= 16)
    val pos16 = SuffixArray.prefixRanks(d, 16L)
      .join(lens, "doc_id").filter(col("pos") <= col("char_len") - 15)
    val cls = pos16.groupBy("srank")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"))
    val got = pos16.join(cls, "srank").groupBy("doc_id")
      .agg(sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("xdoc_grams"),
        count(lit(1)).as("n_grams"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // brute force over true gram strings
    val grams = docs.filter(_._2.length >= 16).flatMap { case (id, t) =>
      (0 to t.length - 16).map(i => (id, t.substring(i, i + 16)))
    }
    val byGram = grams.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size)
    val expect = grams.groupBy(_._1).map { case (id, g) =>
      id -> ((g.count(x => byGram(x._2) >= 2).toLong, g.size.toLong))
    }
    assert(got === expect)
    assert(got(1L)._1 === 1L, "exactly the planted gram is cross-doc")
    assert(!got.contains(4L), "sub-gram doc contributes nothing")
  }

  test("SA-exact census equals the hash64 gram census on the real corpus") {
    import spark.implicits._
    // collision-freedom evidence: the d_dup_spans surface keys 16-cp
    // grams by Hash64; on the sf0.001 slice the hashed census must agree
    // with the suffix-array's true-prefix-equality census exactly
    val dir = "/root/testdata/sf0.001"
    val exact = graft.SparkEntry.queries("d_sa_gram_stats")(spark, dir)
      .select("doc_id", "dup_grams", "xdoc_grams")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val occ = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull &&
        substring(md5(col("text").cast("binary")), 1, 1) === "0" &&
        length(col("text")) >= 16)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val cps = text.codePoints().toArray
        Iterator.tabulate(cps.length - 15) { i =>
          (graft.functions.Hash64.hashString(new String(cps, i, 16)), id)
        }
      }.collect()
    val byHash = occ.groupBy(_._1)
      .map { case (h, xs) => h -> ((xs.length, xs.map(_._2).distinct.length)) }
    val hashed = occ.groupBy(_._2).map { case (id, xs) =>
      id -> ((xs.count(x => byHash(x._1)._1 >= 2).toLong,
        xs.count(x => byHash(x._1)._2 >= 2).toLong))
    }
    assert(exact === hashed)
    assert(exact.values.map(_._1).sum > 0, "sanity: slice has duplicated grams")
  }

  test("ranks survive a downstream coalesce(1) unchanged") {
    import spark.implicits._
    // regression: the lazy rank pass must read its partition offset from
    // the row (frozen at checkpoint), not TaskContext — a narrow
    // coalesce merges parent partitions into one task id
    val rng = new scala.util.Random(11)
    val docs = (1L to 12L)
      .map(id => id -> Array.fill(60)("abcd".charAt(rng.nextInt(4))).mkString)
    val df = SuffixArray.ranks(docs.toDF("doc_id", "text"))
    val plain = df.as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val coalesced = df.coalesce(1).as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(coalesced === plain)
    assert(plain.values.max > 12L, "sanity: many distinct ranks")
  }

  test("max cross-doc LCP via rank-adjacency equals the suffix-automaton LCS") {
    val planted = "sharedplantedrun17"
    val docs = Seq(
      (1L, "prefix one " + planted + " suffix alpha"),
      (2L, "other body " + planted + " tail beta"),
      (3L, "wholly unrelated content here"))
    val ranks = rankMap(docs)
    val text = docs.toMap
    // walk suffixes in rank order; max LCP between adjacent suffixes of
    // DIFFERENT docs = the longest substring shared across documents
    // (the standard SA + LCP theorem, computed sequentially post-collect)
    val inOrder = ranks.toSeq.map { case ((id, pos), r) =>
      (r, text(id).substring(pos.toInt - 1), id)
    }.sortBy(t => (t._1, t._3, t._2))
    def lcp(a: String, b: String): Int =
      a.zip(b).takeWhile { case (x, y) => x == y }.size
    val maxCross = inOrder.sliding(2).collect {
      case Seq((_, sa, ia), (_, sb, ib)) if ia != ib => lcp(sa, sb)
    }.max
    val expect = graft.functions.Lcs.longestCommonSubstring(text(1L), text(2L))
    assert(expect === planted.length + 2, "planted run + flanking spaces")
    assert(maxCross === expect)
  }
}
