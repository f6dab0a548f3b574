package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.corpus.CorpusGen
import graft.oracle.ScalarOracle

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val cfg = DedupConfig()
  lazy val localFiles = CorpusGen.generateLocal(nBases = 120).map(_._1)
  lazy val oracle = ScalarOracle.run(localFiles, cfg)
  lazy val filesDs = spark.createDataset(localFiles)(
    org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])
  lazy val features = DedupPipeline.featurize(filesDs, cfg).persist()

  test("corpus generator is deterministic and well-formed") {
    val a = CorpusGen.generateLocal(nBases = 20)
    val b = CorpusGen.generateLocal(nBases = 20)
    assert(a == b)
    assert(a.map(x => (x._1.repo, x._1.path, x._1.commit)).distinct.size == a.size)
    assert(a.forall(_._1.content.nonEmpty))
    val kinds = a.map(_._2.kind).toSet
    assert(kinds.contains("base"))
    assert(kinds.exists(_.startsWith("near")) || kinds.contains("exact"))
  }

  test("per-row sha256 invariant: Spark featurize equals scalar oracle") {
    val sparkHashes = features.select($"repo", $"path", $"commit", $"sha256")
      .as[(String, String, String, String)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    val oracleHashes = oracle.features
      .map(f => (f.repo, f.path, f.commit) -> f.sha256).toMap
    assert(sparkHashes.size == oracleHashes.size)
    oracleHashes.foreach { case (k, v) => assert(sparkHashes(k) == v, k) }
  }

  test("exact-dedup parity: unique chunk count and dedup ratio match the oracle") {
    val chunks = DedupPipeline.chunkTable(features)
    val uniq = DedupPipeline.uniqueChunks(chunks).persist()
    assert(uniq.count() === oracle.uniqueChunkCount)
    val totals = chunks.agg(sum($"size")).as[Long].head()
    val uniqueBytes = uniq.agg(sum($"size")).as[Long].head()
    assert(totals === oracle.totalChunkBytes)
    assert(uniqueBytes === oracle.uniqueChunkBytes)
    uniq.unpersist()
  }

  test("container packing is a partition of unique chunks with bounded containers") {
    val chunks = DedupPipeline.chunkTable(features)
    val uniq = DedupPipeline.uniqueChunks(chunks)
    val packed = DedupPipeline.packContainers(uniq, cfg).persist()
    assert(packed.count() === oracle.uniqueChunkCount)
    val byContainer = packed.groupBy($"containerId").agg(sum($"size").as("bytes"))
      .as[(Long, Long)].collect()
    // every container except possibly the last stays within payload+maxChunk slack
    byContainer.foreach { case (_, bytes) =>
      assert(bytes <= Rewrite.ContainerPayload + cfg.chunker.maxSize)
    }
    // containers are dense 0..n-1
    val ids = byContainer.map(_._1).sorted
    assert(ids.toSeq == (0L until ids.length).toSeq)
    packed.unpersist()
  }

  test("north rule: dup-pair recall >= 0.99 vs scalar oracle clusters") {
    val clusters = DedupPipeline.cluster(features, cfg)
      .as[(Long, Long)].collect().toMap

    // pairs implied by spark clustering
    val sparkPairs = clusters.groupBy(_._2).values.flatMap { m =>
      val ids = m.keys.toArray.sorted
      for (i <- ids.indices.iterator; j <- (i + 1) until ids.length)
        yield (ids(i), ids(j))
    }.toSet

    val truthPairs = oracle.clusterPairs
    assert(truthPairs.nonEmpty, "oracle should find dup pairs in synthetic corpus")
    val recall = sparkPairs.intersect(truthPairs).size.toDouble / truthPairs.size
    val precision =
      if (sparkPairs.isEmpty) 1.0
      else sparkPairs.intersect(truthPairs).size.toDouble / sparkPairs.size
    info(f"truthPairs=${truthPairs.size} sparkPairs=${sparkPairs.size} recall=$recall%.4f precision=$precision%.4f")
    assert(recall >= 0.99, f"recall $recall%.4f below gate")
    assert(precision >= 0.95, f"precision $precision%.4f suspiciously low")
  }

  test("destor preset candidates run end-to-end and recover dup pairs") {
    // the reference's own similarity loop (segment → sample → FIFO feature
    // index → champions) under two published presets, feeding the same
    // Jaccard-verify stage the MinHash path uses. Fine Rabin CDC (avg
    // 256 B — FastCDC hard-codes min 2048 like the reference) so the
    // few-KB test files carry 10+ chunks: the multi-chunk regime these
    // indexes are designed for (destor's default is 8 KiB chunks on
    // MB-scale backup streams).
    val fineCfg = DedupConfig(chunker = graft.chunking.ChunkerConfig(
      "rabin", minSize = 64, avgSize = 256, maxSize = 2048))
    val fineFeatures = DedupPipeline.featurize(filesDs, fineCfg).persist()
    val sigs = DedupPipeline.sigs(fineFeatures)
    val truth = oracle.clusterPairs
    for (preset <- Seq("extreme_binning", "sparse")) {
      // document-scale streams: shrink segments so files actually split
      val icfg = IndexPresets.preset(preset).copy(
        segmentSize = 4, segmentMin = 2, segmentMax = 16, sampleRate = 2)
      val cand = DedupPipeline.presetCandidates(fineFeatures, icfg)
      val verified = DedupPipeline.verifiedPairs(cand, sigs, cfg).select($"a", $"b")
      // destor groups transitively (bin/champion chains), so the honest
      // measure is cluster-implied pairs, like the north-rule test
      val cc = ConnectedComponents
        .run(sigs.select($"fileId").toDF("fileId"), verified, 25)
        .as[(Long, Long)].collect()
      val pairs = cc.groupBy(_._2).values.flatMap { m =>
        val ids = m.map(_._1).sorted
        for (i <- ids.indices.iterator; j <- (i + 1) until ids.length)
          yield (ids(i), ids(j))
      }.toSet
      val recall = pairs.intersect(truth).size.toDouble / truth.size
      val precision =
        if (pairs.isEmpty) 1.0
        else pairs.intersect(truth).size.toDouble / pairs.size
      info(f"$preset%-16s clusterPairs=${pairs.size} recall=$recall%.3f precision=$precision%.3f")
      // both presets recover the full truth clustering on this corpus
      // (measured 1.000/1.000) — near-exact presets are lossy in general,
      // but transitive grouping recovers what per-pair sampling misses
      assert(recall >= 0.99, f"$preset recall $recall%.3f")
      assert(precision >= 0.99, f"$preset precision $precision%.3f")
    }
  }

  test("clustering is invariant to input partitioning") {
    val repartitioned = filesDs.repartition(13)
    val f2 = DedupPipeline.featurize(repartitioned, cfg)
    val c1 = DedupPipeline.cluster(features, cfg).as[(Long, Long)].collect().toMap
    val c2 = DedupPipeline.cluster(f2, cfg).as[(Long, Long)].collect().toMap
    assert(c1 === c2)
  }

  test("mega-cluster above maxBucket still clusters via hub-star linearization") {
    // 700 near-identical files (> maxBucket=512): every LSH bucket they
    // share is hot; dropping hot buckets would lose the whole cluster
    val base = CorpusGen.baseContent(seed = 1L, baseId = 999L).mkString("\n")
    val mega = (0 until 700).map { i =>
      graft.corpus.CorpusFile(f"r$i%04d", "vendored/lib.c", "c0", "c",
        base + s"\n// local build tag $i\n")
    }
    val distractors = CorpusGen.generateLocal(nBases = 30).map(_._1)
    val ds = spark.createDataset(mega ++ distractors)(
      org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])
    val f = DedupPipeline.featurize(ds, cfg)
    val clusters = DedupPipeline.cluster(f, cfg).as[(Long, Long)].collect().toMap
    val megaIds = mega.map(m => graft.functions.Hash64.fileId(m.repo, m.path, m.commit))
    val megaClusters = megaIds.map(clusters).distinct
    assert(megaClusters.size === 1,
      s"mega-cluster split into ${megaClusters.size} clusters")
  }

  test("hot SimHash buckets linearize via hub-star instead of dropping pairs") {
    // 700 identical-simhash files (> maxBucket=512): all four SimHash
    // bands are hot; the fix emits hub-star pairs gated by the Hamming
    // radius instead of Iterator.empty
    val mega = (0 until 700).map { i =>
      graft.corpus.CorpusFile(f"s$i%04d", "vendored/same.c", "c0", "c",
        "the same mega cluster content line\n" * 40)
    }
    val ds = spark.createDataset(mega)(
      org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])
    val feats = DedupPipeline.featurize(ds, cfg).toDF()
    val cands = DedupPipeline.simhashCandidates(feats, cfg)
      .as[(Long, Long)].collect()
    val ids = mega.map(m =>
      graft.functions.Hash64.fileId(m.repo, m.path, m.commit)).toSet
    val hub = ids.min
    assert(cands.length === ids.size - 1,
      s"expected ${ids.size - 1} hub-star pairs, got ${cands.length}")
    assert(cands.forall(p => p._1 == hub || p._2 == hub))
    assert(cands.flatMap(p => Seq(p._1, p._2)).toSet === ids)
  }

  test("exact duplicates always share a cluster even with empty shingles") {
    val tiny = Seq(
      graft.corpus.CorpusFile("r1", "a.txt", "c1", "md", "x"),
      graft.corpus.CorpusFile("r2", "b.txt", "c2", "md", "x"),
      graft.corpus.CorpusFile("r3", "c.txt", "c3", "md", "different"))
    val ds = spark.createDataset(tiny)(org.apache.spark.sql.Encoders.product)
    val f = DedupPipeline.featurize(ds, cfg)
    val c = DedupPipeline.cluster(f, cfg).as[(Long, Long)].collect().toMap
    val ids = tiny.map(t => graft.functions.Hash64.fileId(t.repo, t.path, t.commit))
    assert(c(ids(0)) == c(ids(1)))
    assert(c(ids(0)) != c(ids(2)))
  }

  test("streamRecipe: two-phase distributed per-stream rank matches the window formulation") {
    val chunks = DedupPipeline.chunkTable(features)
    val packed = DedupPipeline.packContainers(DedupPipeline.uniqueChunks(chunks), cfg)
    val rec = DedupPipeline.recipe(chunks, packed).persist()
    val sr = DedupPipeline.streamRecipe(rec)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"repo")
      .orderBy($"path", $"commit", $"chunkIdx")
    val expect = rec
      .withColumn("seqW", row_number().over(w).cast("long"))
      .select($"repo", $"path", $"commit", $"chunkIdx", $"seqW")
    val mismatches = sr
      .select($"stream".as("repo"), $"path", $"commit", $"chunkIdx", $"seq")
      .join(expect, Seq("repo", "path", "commit", "chunkIdx"), "full")
      .filter($"seq".isNull || $"seqW".isNull || $"seq" =!= $"seqW")
      .count()
    assert(mismatches === 0L)
    rec.unpersist()
  }

  test("streamRuns: two-phase run detection matches the window formulation across partition boundaries") {
    // adversarial shape: few streams × long runs so container runs and
    // streams both straddle the range-partition boundaries; many
    // partitions so nearly every partition starts mid-run
    val rows = for {
      s <- 0 until 3
      i <- 0 until 500
    } yield (s.toLong, i.toLong + 1, (i / 7).toLong % 5) // 7-long runs
    val df = spark.createDataset(rows)(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      .toDF("stream", "seq", "containerId")
      .repartition(32) // force many small partitions pre-sort
    val got = DedupPipeline.streamRuns(df,
      "stream", Seq("seq"), "containerId", "newRun", "runId")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"stream").orderBy($"seq")
    val expect = df
      .withColumn("newRunW",
        coalesce(lag($"containerId", 1).over(w) =!= $"containerId", lit(true)))
      .withColumn("runIdW", sum(when($"newRunW", 1L).otherwise(0L))
        .over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    // 8 range partitions that runs straddle, read downstream by one
    // coalesce(1) task: the carry-ins must follow the frozen partition id
    val straddled = graft.SparkTestSession.uncoalesced(DedupPipeline.streamRuns(
      df, "stream", Seq("seq"), "containerId", "newRun", "runId"))
    Seq(got, straddled.coalesce(1)).foreach { out =>
      val bad = out.join(expect.select($"stream", $"seq", $"newRunW", $"runIdW"),
          Seq("stream", "seq"))
        .filter($"newRun" =!= $"newRunW" || $"runId" =!= $"runIdW")
        .count()
      assert(bad === 0L)
      // run ids are dense 1..K per stream
      val dense = out.groupBy($"stream")
        .agg(max($"runId").as("mx"), countDistinct($"runId").as("k"))
        .filter($"mx" =!= $"k").count()
      assert(dense === 0L)
    }
  }
}
