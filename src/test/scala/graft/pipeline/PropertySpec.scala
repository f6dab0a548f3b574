package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.chunking.{ChunkerConfig, Chunkers}

/** Property-based invariants (SURVEY.md §5 test plan). Uses raw
  * ScalaCheck generators with a deterministic driver (the
  * scalatestplus bridge isn't in the offline dependency cache).
  */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 30)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    (0 until n).foreach { _ =>
      f(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(p => f(p._1, p._2))

  val byteArrays: Gen[Array[Byte]] = for {
    n <- Gen.chooseNum(0, 300000)
    seed <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
  } yield {
    val b = new Array[Byte](n)
    new java.util.Random(seed).nextBytes(b)
    b
  }

  test("chunk boundaries partition the input for every algorithm (property)") {
    forAll(byteArrays, Gen.oneOf("fastcdc", "rabin", "tttd", "ae", "fixed")) {
      (bytes, algo) =>
        val bs = Chunkers.boundaries(bytes, ChunkerConfig(algo))
        assert(bs.map(_.length.toLong).sum == bytes.length.toLong)
        assert(bs.forall(_.length > 0) || bytes.isEmpty)
        bs.sliding(2).foreach {
          case Array(x, y) => assert(x.offset + x.length == y.offset)
          case _ =>
        }
    }
  }

  val longSets: Gen[Array[Long]] =
    Gen.listOf(Gen.chooseNum(0L, 200L)).map(_.distinct.sorted.toArray)

  test("jaccard is symmetric, bounded, and 1 iff equal non-empty sets (property)") {
    forAll(longSets, longSets) { (a, b) =>
      val j = Shingles.jaccard(a, b)
      assert(j >= 0.0 && j <= 1.0)
      assert(j == Shingles.jaccard(b, a))
      if (a.nonEmpty && a.sameElements(b)) assert(j == 1.0)
      if (a.nonEmpty && b.nonEmpty && a.intersect(b).isEmpty) assert(j == 0.0)
    }
  }

  test("minhash estimate approximates true jaccard (property)") {
    val bigSets: Gen[Array[Long]] =
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map { seed =>
        val r = new java.util.Random(seed)
        Array.fill(200 + r.nextInt(200))(r.nextInt(500).toLong).distinct.sorted
      }
    forAll(bigSets, bigSets) { (a, b) =>
      val k = 128
      val est = Shingles.minhashEstimate(Shingles.minhash(a, k), Shingles.minhash(b, k))
      val truth = Shingles.jaccard(a, b)
      // k=128 → stderr ≈ sqrt(j(1-j)/128) ≤ 0.045; allow 5 sigma
      assert(math.abs(est - truth) < 0.25, s"est=$est truth=$truth")
    }
  }

  test("dedup idempotence: re-chunking identical content adds no unique fps (property)") {
    forAll(byteArrays) { bytes =>
      val sha1 = java.security.MessageDigest.getInstance("SHA-1")
      def fps(b: Array[Byte]) =
        Chunkers.boundaries(b, ChunkerConfig()).map { c =>
          sha1.reset(); sha1.update(b, c.offset, c.length)
          DedupPipeline.toHex(sha1.digest())
        }.toSet
      assert(fps(bytes) == fps(bytes.clone()))
    }
  }

  test("destor trace format round-trips arbitrary chunk streams (property)") {
    // printable-ASCII paths without whitespace (the format's path line is
    // newline-terminated and the reader takes declared-length chars)
    val pathGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
      .map(s => s.take(40))
    val chunkGen = Gen.zip(
      Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(0, 1 << 20))
    val fileGen = Gen.zip(pathGen, Gen.nonEmptyListOf(chunkGen))
    val streamGen = Gen.nonEmptyListOf(fileGen)
      .map(_.distinctBy(_._1)) // unique paths
    forAll(streamGen, n = 15) { files =>
      val rows = files.flatMap { case (path, cs) =>
        cs.zipWithIndex.map { case ((h, size), idx) =>
          graft.sources.TraceChunk(path, idx, f"$h%040x", size)
        }
      }
      // render blocks exactly like the writer, parse back
      val text = files.sortBy(_._1).map { case (path, cs) =>
        s"file start ${path.length}\n$path\n" +
          cs.map { case (h, size) => f"$h%040x $size" }.mkString("\n") +
          "\nfile end"
      }.mkString("", "\n", "\nstream end")
      val parsed = graft.sources.TraceSource.parseTrace(text).toList
      assert(parsed.toSet === rows.toSet)
      assert(parsed.size === rows.size)
    }
  }

  test("index key truncation preserves prefix order for every key size (property)") {
    val long = Gen.chooseNum(Long.MinValue, Long.MaxValue)
    val fpGen = Gen.zip(long, long)
      .map { case (a, b) => f"$a%016x$b%016x" + "00000000" }
    forAll(Gen.zip(Gen.listOfN(20, fpGen), Gen.chooseNum(1, 20))) {
      case (fps, kb) =>
        val full = fps.sorted
        val trunc = full.map(IndexPresets.truncateKey(_, kb))
        assert(trunc == trunc.sorted) // order-preserving
        assert(trunc.forall(_.length == math.min(20, kb) * 2))
    }
  }

  test("segmenting assigns monotone non-decreasing contiguous ids (property)") {
    val fpSeqs: Gen[Seq[String]] = Gen.listOf(
      Gen.chooseNum(0, Int.MaxValue)).map(_.map(i => f"$i%040x"))
    forAll(fpSeqs) { fps =>
      val segs = Segmenting.contentDefined(avg = 4, min = 2, max = 8)(fps)
      segs.sliding(2).foreach {
        case Array(x, y) => assert(y == x || y == x + 1)
        case _ =>
      }
      if (segs.nonEmpty) assert(segs.head == 0L)
    }
  }

  test("CosineSim: range, symmetry, scale invariance, self = 1 (property)") {
    val vecs: Gen[Array[Float]] = for {
      n <- Gen.chooseNum(1, 96)
      seed <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    } yield {
      val r = new java.util.Random(seed)
      // at least one non-zero coordinate so the norm is non-zero
      Array.tabulate(n)(i => if (i == 0) r.nextFloat() + 0.1f
        else r.nextFloat() * 2 - 1)
    }
    def unsafe(a: Array[Float]) =
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a)
    forAll(Gen.zip(vecs, vecs)) { case (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val a = a0.take(n); val b = b0.take(n)
      val c = graft.functions.CosineSim.computeF(unsafe(a), unsafe(b))
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      val sym = graft.functions.CosineSim.computeF(unsafe(b), unsafe(a))
      assert(math.abs(c - sym) < 1e-12, "symmetric")
      val scaled = graft.functions.CosineSim.computeF(
        unsafe(a.map(_ * 4.0f)), unsafe(b))
      assert(math.abs(c - scaled) < 1e-6, "scale invariant")
      val self = graft.functions.CosineSim.computeF(unsafe(a), unsafe(a))
      assert(math.abs(self - 1.0) < 1e-9, "self similarity = 1")
      // parity with the scalar pipeline implementation
      assert(math.abs(c - graft.operators.Similarity.cosine(a, b)) < 1e-12)
    }
  }

  test("streamPrefix equals the sequential per-stream exclusive scan (property)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val rows: Gen[List[(String, Int, Long)]] = for {
      n <- Gen.chooseNum(0, 120)
      streams <- Gen.chooseNum(1, 5)
      xs <- Gen.listOfN(n, for {
        s <- Gen.chooseNum(0, streams - 1)
        k <- Gen.chooseNum(0, 50)
        v <- Gen.chooseNum(0L, 1000L)
      } yield (s"s$s", k, v))
    } yield xs
    forAll(rows, n = 12) { xs =>
      // unique order key per stream so the ordering is total
      val data = xs.zipWithIndex.map { case ((s, _, v), i) => (s, i, v) }
      val df = data.toDF("stream", "k", "v")
      val got = DedupPipeline.streamPrefix(df, "stream", Seq("k"), "v", "pre")
        .select($"stream", $"k", $"pre").as[(String, Int, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
      val expect = data.groupBy(_._1).flatMap { case (_, rs) =>
        var cum = 0L
        rs.sortBy(_._2).map { case (s, k, v) =>
          val out = (s, k) -> cum; cum += v; out
        }
      }.toMap
      assert(got == expect)
    }
  }

  test("pack equals the sequential cumulative fill per stream (property)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val payload = 100L
    val rows: Gen[(List[(String, Long)], Long)] = for {
      n <- Gen.chooseNum(0, 150)
      streams <- Gen.chooseNum(1, 4)
      xs <- Gen.listOfN(n, for {
        s <- Gen.chooseNum(0, streams - 1)
        v <- Gen.frequency(1 -> Gen.const(0L), 3 -> Gen.chooseNum(1L, 250L))
      } yield (s"s$s", v))
      base <- Gen.chooseNum(0L, 1000L)
    } yield (xs, base)
    def packed(data: Seq[(String, Int, Long)], base: Long) =
      DedupPipeline.pack(data.toDF("stream", "k", "sz").repartition(8),
          "stream", Seq("k"), "sz", base, payload, "cid")
        .select($"k", $"cid").as[(Int, Long)].collect().toMap
    forAll(rows, n = 12) { case (xs, base) =>
      // the very first row weighs 0, so a stream can open on a zero-size row
      val data = xs.zipWithIndex.map { case ((s, v), i) =>
        (s, i, if (i == 0) 0L else v) }
      val expect = data.groupBy(_._1).flatMap { case (_, rs) =>
        var cum = 0L
        rs.sortBy(_._2).map { case (_, k, v) =>
          cum += v; k -> (base + math.max(cum - 1, 0L) / payload)
        }
      }
      assert(packed(data, base) == expect)
    }
    assert(packed(Seq.empty, 7L).isEmpty)
  }

  test("utf8Offsets equal getBytes(UTF_8) prefix lengths, lone surrogates included (property)") {
    // arbString never draws surrogates, so mix them in: adjacent high/low
    // ones form pairs, the rest stay unpaired and encode as `?`
    val chars: Gen[Char] = Gen.frequency(
      4 -> org.scalacheck.Arbitrary.arbChar.arbitrary,
      2 -> Gen.choose(0.toChar, 0x7f.toChar),
      1 -> Gen.choose(0xd800.toChar, 0xdfff.toChar))
    forAll(Gen.listOf(chars).map(_.mkString), n = 200) { s =>
      val cps = s.codePoints().toArray
      val off = graft.functions.Hash64.utf8Offsets(cps)
      (0 to cps.length).foreach { i =>
        assert(off(i) == new String(cps, 0, i)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
      }
    }
  }

  test("top_k_by equals sort-take for arbitrary longs incl. extremes (property)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val rows: Gen[List[(Long, Long)]] = for {
      n <- Gen.chooseNum(0, 200)
      groups <- Gen.chooseNum(1, 4)
      xs <- Gen.listOfN(n, for {
        g <- Gen.chooseNum(0, groups - 1)
        s <- Gen.oneOf(Gen.chooseNum(Long.MinValue, Long.MaxValue),
          Gen.chooseNum(-3L, 3L)) // force score ties too
      } yield (g.toLong, s))
    } yield xs
    forAll(Gen.zip(rows, Gen.chooseNum(1, 7)), n = 12) { case (xs, k) =>
      // unique id per row so the (score DESC, id ASC) order is total
      val data = xs.zipWithIndex.map { case ((g, s), i) => (g, s, i.toLong) }
      if (data.nonEmpty) {
        val got = data.toDF("g", "s", "id").repartition(5)
          .groupBy($"g")
          .agg(graft.functions.TopKBy($"s", $"id", k).as("t"))
          .select($"g", org.apache.spark.sql.functions.explode($"t"))
          .select($"g", $"col.score", $"col.id")
          .as[(Long, Long, Long)].collect().toSet
        val expect = data.groupBy(_._1).flatMap { case (g, rs) =>
          rs.map(r => (r._2, r._3)) // NB: no -s negation (Long.MinValue!)
            .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
            .take(k).map { case (s, i) => (g, s, i) }
        }.toSet
        assert(got == expect)
      }
    }
  }

  test("boundedRankBefore equals the sort-index rank, mixed directions (property)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    // unique (rem, lang, source) census-style rows — the helper's
    // contract (group-census rows are unique at every call site)
    val rows: Gen[List[(Long, String, String)]] = for {
      n <- Gen.chooseNum(1, 25)
      xs <- Gen.listOfN(n, for {
        r <- Gen.chooseNum(0L, 5L) // force rem ties
        l <- Gen.oneOf("de", "en", "fr", "zh")
        s <- Gen.oneOf("s0", "s1", "s2", "s3", "s4", "s5", "s6", "s7")
      } yield (r, l, s))
    } yield xs.distinct
    forAll(rows, n = 10) { xs =>
      val got = graft.queries.CurationQueries.boundedRankBefore(
          xs.toDF("rem", "lang", "source").repartition(3),
          Seq("rem" -> false, "lang" -> true, "source" -> true), "nb")
        .as[(Long, String, String, Long)].collect()
        .map(r => (r._1, r._2, r._3) -> r._4).toMap
      val order = xs.sortWith { (a, b) =>
        a._1 > b._1 || (a._1 == b._1 &&
          (a._2 < b._2 || (a._2 == b._2 && a._3 < b._3)))
      }
      order.zipWithIndex.foreach { case (row, i) =>
        assert(got(row) === i.toLong,
          s"row $row expected $i before it under (rem desc, lang, source)")
      }
      assert(got.size === xs.size, "one output row per unique input row")
    }
  }
}
