package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.corpus.CorpusGen
import graft.functions.Lcs
import graft.operators.Multimodal

class ExtrasSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("suffix-automaton LCS is exact") {
    assert(Lcs.longestCommonSubstring("abcdef", "zabcy") === 3)
    assert(Lcs.longestCommonSubstring("", "abc") === 0)
    assert(Lcs.longestCommonSubstring("abc", "abc") === 3)
    assert(Lcs.longestCommonSubstring("aaaa", "aa") === 2)
    assert(Lcs.longestCommonSubstring("xyz", "abc") === 0)
    // brute-force cross-check on pseudo-random strings
    val r = new scala.util.Random(5)
    def rand(n: Int) = (1 to n).map(_ => ('a' + r.nextInt(4)).toChar).mkString
    for (_ <- 1 to 20) {
      val a = rand(40); val b = rand(40)
      val brute = (for {
        i <- 0 until a.length; j <- i + 1 to a.length
        if b.contains(a.substring(i, j))
      } yield j - i).maxOption.getOrElse(0)
      assert(Lcs.longestCommonSubstring(a, b) === brute, s"$a vs $b")
    }
  }

  test("JaccardSorted expression matches the scalar implementation (codegen path)") {
    val r = new scala.util.Random(11)
    val rows = (1 to 50).map { i =>
      val a = Array.fill(r.nextInt(30))(r.nextInt(40).toLong).distinct.sorted
      val b = Array.fill(r.nextInt(30))(r.nextInt(40).toLong).distinct.sorted
      (i, a, b)
    }
    val df = rows.toDF("id", "a", "b")
      .withColumn("j", graft.functions.JaccardSorted($"a", $"b"))
    val got = df.select($"id", $"j").as[(Int, Double)].collect().toMap
    rows.foreach { case (i, a, b) =>
      assert(got(i) === Shingles.jaccard(a, b), s"row $i")
    }
  }

  test("restore reconstruction proves per-row sha256 for the whole corpus") {
    val corpus = spark.createDataset(
      CorpusGen.generateLocal(nBases = 40).map(_._1))(
      org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])
    val res = Restore.verifyRestore(corpus, DedupConfig())
      .as[(Long, Long, Long)].head()
    assert(res._1 === corpus.count())
    assert(res._2 === res._1, "all files restore byte-identically")
    assert(res._3 === 0)
  }

  test("materializing restore rebuilds the directory tree byte-identically on disk") {
    // include an empty file: zero-chunk entries must still be restored
    // (do_restore writes every recipe entry)
    val files = CorpusGen.generateLocal(nBases = 25).map(_._1) :+
      graft.corpus.CorpusFile("r-empty", "empty.txt", "c0", "md", "")
    val corpus = spark.createDataset(files)(
      org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])
    val outDir = java.nio.file.Files.createTempDirectory("graft_restore_").toString
    try {
      val res = Restore.materialize(corpus, DedupConfig(), outDir)
        .as[(Long, String, Long, Boolean)].collect()
      assert(res.length === files.length)
      assert(res.forall(_._4), "every written file verifies against the original sha256")
      // independent disk check: read three files back and byte-compare
      files.take(3).foreach { f =>
        val p = java.nio.file.Paths.get(outDir, f.repo, f.commit, f.path)
        assert(java.nio.file.Files.exists(p), s"missing $p")
        val got = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(got == f.content, s"byte mismatch in ${f.path}")
      }
    } finally {
      // recursive cleanup of the tmp tree
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(outDir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("simhash candidates find near-identical files within hamming radius") {
    val corpus = spark.createDataset(
      CorpusGen.generateLocal(nBases = 40).map(_._1))(
      org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])
    val feats = DedupPipeline.featurize(corpus, DedupConfig()).toDF().persist()
    val cands = DedupPipeline.simhashCandidates(feats, DedupConfig())
    val n = cands.count()
    assert(n > 0, "near-dup corpus must produce simhash candidates")
    // every candidate pair is actually within the radius
    val sh = feats.select($"fileId", $"simhash").as[(Long, Long)].collect().toMap
    cands.as[(Long, Long)].collect().foreach { case (a, b) =>
      assert(Shingles.hamming(sh(a), sh(b)) <= DedupConfig().shingle.simhashRadius)
    }
    feats.unpersist()
  }

  test("GC: dead chunks exclude fps still referenced by surviving versions") {
    val recipe = Seq(
      ("v1", "fpA", 1L, 10), ("v1", "fpB", 1L, 20),
      ("v2", "fpB", 1L, 20), ("v2", "fpC", 2L, 30))
      .toDF("version", "fp", "containerId", "size")
    val dead = GC.deadChunks(recipe, "v1").select($"fp").as[String].collect()
    assert(dead.toSeq === Seq("fpA")) // fpB survives via v2
    val plan = GC.compactionPlan(recipe, "v1")
      .as[(Long, Long, Long, Long)].collect()
    assert(plan.length === 1)
    val (cid, surv, deadB, deadC) = plan.head
    assert(cid === 1L && surv === 20L && deadB === 10L && deadC === 1L)
  }

  test("GC: compactExec migrates survivors, rewrites the recipe, and is idempotent") {
    // container 1 has a dead chunk (fpA only in v1) -> fpB must migrate;
    // container 2 is clean -> fpC stays; fpZ is zero-size in an affected
    // container (packing-position clamp)
    val recipe = Seq(
      ("v1", "fpA", 1L, 10), ("v1", "fpB", 1L, 20), ("v1", "fpZ", 1L, 0),
      ("v2", "fpB", 1L, 20), ("v2", "fpC", 2L, 30), ("v2", "fpZ", 1L, 0))
      .toDF("version", "fp", "containerId", "size")
    val c = GC.compactExec(recipe, "v1", payload = 1024)
    val mig = c.migration.as[(String, Long, Long, Long)].collect().toSeq.sorted
    // survivors of container 1 (fpB, fpZ) migrate into new container 3
    assert(mig === Seq(("fpB", 1L, 20L, 3L), ("fpZ", 1L, 0L, 3L)))
    val rw = c.recipe.select($"version", $"fp", $"containerId")
      .as[(String, String, Long)].collect().toSet
    assert(rw === Set(("v2", "fpB", 3L), ("v2", "fpC", 2L), ("v2", "fpZ", 3L)))
    // no dead fp survives in the rewritten recipe
    assert(!rw.exists(_._2 == "fpA"))
    // idempotence: the same deletion on the rewritten recipe is a no-op
    val again = GC.compactExec(c.recipe, "v1", payload = 1024)
    assert(again.migration.count() === 0L)
    assert(again.recipe.select($"version", $"fp", $"containerId")
      .as[(String, String, Long)].collect().toSet === rw)
    // packing bound: a fresh container never exceeds payload + one chunk
    val over = c.migration.groupBy($"new_cid")
      .agg(sum($"size").as("b"), max($"size").as("mx"))
      .filter($"b" > lit(1024L) + $"mx").count()
    assert(over === 0L)
  }

  test("GC: expireChain uses copy-level liveness, rewrites the chain, hands off the index") {
    // A chained store with a MULTI-COPY fp: v2's rewrite pass re-homed
    // fpB from container 1 to container 5, so v2/v3 reference fpB@5 and
    // the superseded base copy fpB@1 must die with v1 even though the fp
    // itself is alive elsewhere. fpC is v1-only (plain dead); fpA/fpD are
    // live survivors caught in the affected containers 1 and 2.
    val chain = Seq(
      ("v1", "fpA", 1L, 10), ("v1", "fpB", 1L, 20), ("v1", "fpC", 2L, 30),
      ("v2", "fpA", 1L, 10), ("v2", "fpB", 5L, 20), ("v2", "fpD", 2L, 40),
      ("v3", "fpA", 1L, 10), ("v3", "fpB", 5L, 20), ("v3", "fpD", 2L, 40))
      .toDF("version", "fp", "containerId", "size")
    val c = GC.expireChain(chain, "v1", payload = 1024)
    val mig = c.migration.as[(String, Long, Long, Long)].collect().toSet
    // survivors of containers 1 and 2 re-pack into fresh container 6;
    // the dead copies (fpB,1) and (fpC,2) do NOT migrate
    assert(mig === Set(("fpA", 1L, 10L, 6L), ("fpD", 2L, 40L, 6L)))
    val rw = c.recipes.select($"version", $"fp", $"containerId")
      .as[(String, String, Long)].collect().toSet
    assert(rw === Set(
      ("v2", "fpA", 6L), ("v2", "fpB", 5L), ("v2", "fpD", 6L),
      ("v3", "fpA", 6L), ("v3", "fpB", 5L), ("v3", "fpD", 6L)))
    // compacted containers never reappear in the surviving chain
    assert(!rw.exists(r => r._3 == 1L || r._3 == 2L))
    // inherited index is fp -> latest surviving copy
    val idx = c.index.as[(String, Long)].collect().toMap
    assert(idx === Map("fpA" -> 6L, "fpB" -> 5L, "fpD" -> 6L))
    // idempotence: expiring the same version again is a no-op
    val again = GC.expireChain(c.recipes, "v1", payload = 1024)
    assert(again.migration.count() === 0L)
    assert(again.recipes.select($"version", $"fp", $"containerId")
      .as[(String, String, Long)].collect().toSet === rw)
  }

  test("GC: manifest merge keeps the newest reference; truncation reclaims") {
    val manifest = Seq((1L, "v1"), (2L, "v2")).toDF("containerId", "lastRef")
    val usage = Seq((2L, "v3"), (3L, "v3")).toDF("containerId", "lastRef")
    val merged = GC.mergeManifest(manifest, usage)
      .as[(Long, String)].collect().toMap
    assert(merged === Map(1L -> "v1", 2L -> "v3", 3L -> "v3"))
    val reclaimed = GC.reclaimable(merged.toSeq.toDF("containerId", "lastRef"), "v1")
      .select($"containerId").as[Long].collect()
    assert(reclaimed.toSeq === Seq(1L))
  }

  test("multimodal: real PPM/WAV decode, frame sampling and exact dedup plumbing") {
    val media = Multimodal.synthesize(spark, 30)
    val stats = Multimodal.decode(media).collect()
    assert(stats.length === 30)
    assert(stats.forall(s => s.meanLuma >= 0 && s.meanLuma <= 1))
    assert(stats.map(_.sha1).distinct.length === 30)
    // sniffed kind must agree with the synthesizer's metadata, and parsed
    // dimensions must come out of the actual header bytes
    val metas = media.collect().map(m => m.mediaId -> m.meta).toMap
    stats.foreach { s =>
      assert(s.kind === metas(s.mediaId).kind, s"kind sniff ${s.mediaId}")
      if (s.kind != "audio") assert(s.width === metas(s.mediaId).width)
    }
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frameFeature.length === 8))
    // luma histogram of real pixels is a distribution: sums to 1
    frames.foreach(f => assert(math.abs(f.frameFeature.sum - 1f) < 1e-3))
    // every sampled frame index exists in the payload (stride semantics)
    val frameCounts = metas.collect { case (id, m) if m.kind == "video" => id -> m.frames }
    frames.foreach(f => assert(f.frameIdx < frameCounts(f.mediaId) && f.frameIdx % 2 == 0))
    // deterministic across runs
    val stats2 = Multimodal.decode(Multimodal.synthesize(spark, 30)).collect()
    assert(stats.map(_.sha1).toSeq === stats2.map(_.sha1).toSeq)
    val dedup = Multimodal.exactDedup(media)
    assert(dedup.count() === 30) // payloads all distinct by construction
  }

  test("multimodal: committed MediaFixtures literals match the sequential codecs") {
    // the m_* driver oracles join these frozen literals — re-derive all
    // four tables from the scalar codecs so any engine change that moves
    // a value fails here instead of silently drifting the oracle
    import graft.tools.MediaFixtureGen
    assert(MediaFixtureGen.mediaStatsRows().mkString(",\n") ===
      graft.MediaFixtures.mediaStats)
    assert(MediaFixtureGen.audioBytesRows().mkString(",\n") ===
      graft.MediaFixtures.audioBytes)
    assert(MediaFixtureGen.resizedLumaRows().mkString(",\n") ===
      graft.MediaFixtures.resizedLuma)
    assert(MediaFixtureGen.frameHistRows().mkString(",\n") ===
      graft.MediaFixtures.frameHists)
  }

  test("multimodal: nearest-neighbor resize emits valid P6 a decoder re-parses") {
    val media = Multimodal.synthesize(spark, 30)
    val resized = Multimodal.resize(media, maxDim = 12).collect()
    assert(resized.length === 30)
    val metas = media.collect().map(m => m.mediaId -> m.meta).toMap
    resized.foreach { r =>
      // kind and source dimensions carry the input's meta through
      val m = metas(r.mediaId)
      assert((r.kind, r.width, r.height) === (m.kind, m.width, m.height))
      if (r.kind == "image") {
        if (math.max(r.width, r.height) > 12)
          assert(math.max(r.newWidth, r.newHeight) === 12) // longest side hits the clamp
        else {
          // within bound: byte-identical pass-through
          assert((r.newWidth, r.newHeight) === (r.width, r.height))
        }
        // the payload is a REAL P6 with exactly the advertised pixels
        val (w, h, pix, end) = Multimodal.parsePpmHeader(r.payload, 0)
        assert((w, h) === (r.newWidth, r.newHeight))
        assert(end - pix === w * h * 3)
        assert(end === r.payload.length)
      } else {
        // non-images pass through untouched
        assert((r.newWidth, r.newHeight) === (r.width, r.height))
      }
    }
    // golden pixel mapping: 4x2 checkerboard downsampled to 2x1 picks the
    // nearest-neighbor source pixels (0,0) and (2,0)
    val px = Array[Byte](
      10, 10, 10, 20, 20, 20, 30, 30, 30, 40, 40, 40, // row 0
      50, 50, 50, 60, 60, 60, 70, 70, 70, 80, 80, 80) // row 1
    val src = "P6\n4 2\n255\n".getBytes("US-ASCII") ++ px
    val one = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, Multimodal.MediaMeta("image", 4, 2, 1, 0), src)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val out = Multimodal.resize(one, maxDim = 2).collect().head
    assert((out.newWidth, out.newHeight) === (2, 1))
    val (_, _, pix2, _) = Multimodal.parsePpmHeader(out.payload, 0)
    assert(out.payload.slice(pix2, pix2 + 6).toSeq ===
      Seq[Byte](10, 10, 10, 30, 30, 30))
    // already within the bound: byte-identical pass-through
    val same = Multimodal.resize(one, maxDim = 4).collect().head
    assert(same.payload.toSeq === src.toSeq)
    assert((same.newWidth, same.newHeight) === (4, 2))
    // deterministic
    val again = Multimodal.resize(media, maxDim = 12).collect()
    assert(resized.map(r => (r.mediaId, r.payload.toSeq)).toSeq ===
      again.map(r => (r.mediaId, r.payload.toSeq)).toSeq)
  }

  test("multimodal golden decodes: known PPM pixels and WAV samples") {
    // 2x1 PPM: white pixel + black pixel → mean luma exactly 0.5
    val ppm = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](-1, -1, -1, 0, 0, 0)
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    val img = Multimodal.decodeOne(
      Multimodal.MediaRow(7L, Multimodal.MediaMeta("image", 2, 1, 1, 0), ppm), sha1)
    assert(img.kind === "image" && img.width === 2 && img.height === 1)
    assert(math.abs(img.meanLuma - 0.5) < 1e-9)
    // WAV with two full-scale samples (+32767, -32768) → RMS ≈ 1
    val wav = {
      val b = java.nio.ByteBuffer.allocate(48).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(40).put("WAVE".getBytes)
      b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
      b.put("data".getBytes).putInt(4).putShort(32767).putShort(-32768)
      b.array()
    }
    val (rate, rms) = Multimodal.decodeWav(wav)
    assert(rate === 8000)
    assert(math.abs(rms - 1.0) < 1e-3)
    // corrupt payload is rejected, not silently faked
    intercept[IllegalArgumentException] {
      Multimodal.decodeOne(
        Multimodal.MediaRow(8L, Multimodal.MediaMeta("image", 1, 1, 1, 0),
          Array[Byte](1, 2, 3, 4)), sha1)
    }
  }
}
