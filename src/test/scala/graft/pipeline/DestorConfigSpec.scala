package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class DestorConfigSpec extends AnyFunSuite {

  /** The shipped destor.config's values, as parsed and forced. */
  private def assertShippedSettings(s: DestorSettings): Unit = {
    assert(s.chunker.algo == "fastcdc")
    assert(s.chunker.minSize == 2048 && s.chunker.avgSize == 8192 &&
      s.chunker.maxSize == 65536)
    // "block locality caching" (quoted, with its leading-space line):
    // categories assert exact+logical like config.c:138-141, then the
    // init_index forcing (index.c:43-52) pins uniform/1 sampling and
    // prefetch 16 (user prefetch 1 is not > 1) — but BLC does NOT force
    // a segmenting algorithm, so the user's content-defined 1024 and
    // segment boundaries survive, exactly as in the reference
    assert(s.indexPreset.contains("blc"))
    assert(s.index.exact && s.index.logicalLocality)
    assert(s.index.samplingMethod == "uniform" && s.index.sampleRate == 1)
    assert(s.index.segmentMethod == "content")
    assert(s.index.segmentSize == 1024)
    assert(s.index.segmentMin == 128 && s.index.segmentMax == 10240)
    assert(s.index.segmentPrefetch == 16)
    assert(s.index.keyBytes == 20)
    assert(s.indexValueLength == 1)
    assert(s.rewrite.algorithm == "no")
    assert(s.rewrite.enableHar)
    assert(s.rewrite.harUtilizationThreshold == 0.5)
    assert(s.rewrite.harRewriteLimit == 0.05)
    assert(s.rewrite.cappingLevel == 14)
    assert(s.rewrite.cbrMinimalUtility == 0.5)
    assert(!s.rewrite.enableCacheAware)
    assert(s.restoreCache == "lru" && s.restoreCacheSize == 30)
    assert(s.restoreOptWindow == 1000000)
    assert(s.simulationLevel == "no" && s.traceFormat == "destor")
    assert(s.raw("backup-retention-time") == Seq("20"))
    assert(s.raw("working-directory") == Seq("/mnt/sda/destor/"))
  }

  test("parses the reference's SHIPPED destor.config end to end") {
    // the upstream file itself is the subject: cancelled (not failed)
    // only where the reference tree is absent
    val path = java.nio.file.Paths.get("/root/reference/destor.config")
    assume(java.nio.file.Files.isRegularFile(path))
    val text = new String(java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8)
    val s = DestorConfig.parse(text)
    assertShippedSettings(s)
    // the engine's own copy of the shipped directives parses to the same
    // settings as the file (raw aside: the copy omits unrecorded lines)
    assert(s.copy(raw = Map.empty) ==
      DestorConfig.parse(DestorConfig.ShippedDirectives).copy(raw = Map.empty))
  }

  test("the engine's copy of the shipped directives carries every shipped value") {
    assertShippedSettings(DestorConfig.parse(DestorConfig.ShippedDirectives))
  }

  test("sdssplitargs-faithful tokenization: quotes, escapes, closing-quote rule") {
    assert(DestorConfig.splitArgs("""a "b c" d""").contains(Seq("a", "b c", "d")))
    assert(DestorConfig.splitArgs("""a "x\ty" 'q w'""").contains(Seq("a", "x\ty", "q w")))
    assert(DestorConfig.splitArgs("""a "unbalanced""").isEmpty)
    assert(DestorConfig.splitArgs("""a 'unbalanced""").isEmpty)
    assert(DestorConfig.splitArgs("").contains(Seq.empty))
    // \xHH hex escapes decode inside double quotes (sds.c)
    assert(DestorConfig.splitArgs(""""\x41\x62"""").contains(Seq("Ab")))
    // a quote opened mid-token extends the SAME token, ending at the
    // closing quote
    assert(DestorConfig.splitArgs("""a"b c"""").contains(Seq("ab c")))
    // a closing quote followed by a non-space is an error upstream
    assert(DestorConfig.splitArgs("""a"b c"d""").isEmpty)
    assert(DestorConfig.splitArgs("""'q'x""").isEmpty)
  }

  test("init_index forcing matches index.c exactly (rates/prefetch preserved, post-switch rules unconditional)") {
    // sparse preserves a user rate > 1 (index.c:70-71 `rate > 1 ? rate : 128`)
    val sp = DestorConfig.parse(
      "fingerprint-index near-exact logical \"sparse index\"\n" +
      "fingerprint-index-sampling-method random 256")
    assert(sp.index.samplingMethod == "random" && sp.index.sampleRate == 256)
    // blc preserves user prefetch > 1 (index.c:47-48)
    val blc = DestorConfig.parse(
      "fingerprint-index exact logical \"block locality caching\"\n" +
      "fingerprint-index-segment-prefetching 32")
    assert(blc.index.segmentPrefetch == 32)
    // the unconditional post-switch rules apply even with NO preset:
    // exact+physical forces fixed segmenting, uniform/1, full key
    // (index.c:99-109)
    val ep = DestorConfig.parse(
      "fingerprint-index exact physical\n" +
      "fingerprint-index-segment-algorithm content-defined 512\n" +
      "fingerprint-index-sampling-method min 8\n" +
      "fingerprint-index-key-size 8")
    assert(ep.index.segmentMethod == "fixed")
    assert(ep.index.samplingMethod == "uniform" && ep.index.sampleRate == 1)
    assert(ep.index.keyBytes == 20)
    // near-exact + physical: fixed segmenting forced, sampling kept
    val np = DestorConfig.parse(
      "fingerprint-index near-exact physical\n" +
      "fingerprint-index-segment-algorithm content-defined 512\n" +
      "fingerprint-index-sampling-method min 8")
    assert(np.index.segmentMethod == "fixed")
    assert(np.index.samplingMethod == "min" && np.index.sampleRate == 8)
    // upstream's no-op assert: `rewrite-algorithm no 1024` is accepted
    assert(DestorConfig.parse("rewrite-algorithm no 1024")
      .rewrite.algorithm == "no")
    // index.c:111's REAL assert fires: key size must be in 1..20
    intercept[IllegalArgumentException](
      DestorConfig.parse("fingerprint-index near-exact physical\n" +
        "fingerprint-index-key-size 0"))
    intercept[IllegalArgumentException](
      DestorConfig.parse("fingerprint-index-key-size 21"))
    // C isspace() includes \f and \v: a closing quote before them is legal
    assert(DestorConfig.splitArgs("\"a b\"\fc").contains(Seq("a b", "c")))
  }

  test("splitArgs total on arbitrary input: tokens or a clean error, never a throw") {
    var seed = org.scalacheck.rng.Seed(7L)
    val gen = org.scalacheck.Gen.listOf(org.scalacheck.Gen.frequency(
      6 -> org.scalacheck.Gen.asciiPrintableChar,
      1 -> org.scalacheck.Gen.oneOf('"', '\'', '\\'),
      1 -> org.scalacheck.Gen.oneOf('\t', '\u000b', '\u000c', ' ')))
      .map(_.mkString)
    (0 until 300).foreach { _ =>
      val s = gen.pureApply(org.scalacheck.Gen.Parameters.default, seed)
      seed = seed.next
      DestorConfig.splitArgs(s) match {
        case Some(toks) => toks.foreach(t => assert(t != null))
        case None => // clean upstream-style error
      }
    }
  }

  test("errors mirror the reference's loaderr cases") {
    intercept[IllegalArgumentException](DestorConfig.parse("no-such-directive 1"))
    intercept[IllegalArgumentException](DestorConfig.parse("chunk-algorithm lzw"))
    intercept[IllegalArgumentException](DestorConfig.parse("simulation-level maybe"))
    intercept[IllegalArgumentException](DestorConfig.parse("rewrite-enable-har perhaps"))
    intercept[IllegalArgumentException](DestorConfig.parse("restore-cache lru")) // arity
    // preset/category assertion (config.c:130-157): ddfs requires
    // exact + physical
    intercept[IllegalArgumentException](
      DestorConfig.parse("fingerprint-index near-exact logical ddfs"))
    // unbalanced quotes
    intercept[IllegalArgumentException](DestorConfig.parse("""chunk-algorithm "fixed"""
      .dropRight(1)))
  }

  test("rewrite-algorithm short and long names, buffer size, defaults") {
    val cap = DestorConfig.parse("rewrite-algorithm cap 64\nrewrite-capping-level 3")
    assert(cap.rewrite.algorithm == "cap" && cap.rewrite.bufferSize == 64 &&
      cap.rewrite.cappingLevel == 3)
    val cbr = DestorConfig.parse("rewrite-algorithm \"context-based rewriting\" 2048")
    assert(cbr.rewrite.algorithm == "cbr" && cbr.rewrite.bufferSize == 2048)
    val cfl = DestorConfig.parse(
      "rewrite-algorithm \"cfl-based selective deduplication\"")
    assert(cfl.rewrite.algorithm == "cfl" && cfl.rewrite.bufferSize == 1024)
  }

  test("destor.config in, clusters out: presetClusters runs the configured similarity loop") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val files = graft.corpus.CorpusGen.generateLocal(nBases = 40).map(_._1)
    val corpus = spark.createDataset(files)(
      org.apache.spark.sql.Encoders.product[graft.corpus.CorpusFile])
    val s = DestorConfig.parse(
      "chunk-algorithm rabin\nchunk-min-size 64\nchunk-avg-size 256\nchunk-max-size 2048\n" +
      "fingerprint-index near-exact logical \"sparse index\"\n" +
      "fingerprint-index-segment-algorithm content-defined 4\n" +
      "fingerprint-index-segment-boundary 2 16\n" +
      "fingerprint-index-sampling-method random 2\n" +
      "fingerprint-index-value-length 4")
    val clusters = s.presetClusters(corpus).as[(Long, Long)].collect()
    assert(clusters.length == files.length)
    // the config-driven loop finds real near-dup structure: at least one
    // multi-member cluster on the Zipf corpus
    assert(clusters.groupBy(_._2).values.exists(_.length > 1))
  }

  test("parsed settings are executable: rewritePass and restoreSim dispatch") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val recipe = (1 to 300).map { i =>
      ("s", i.toLong, 64, (i % 7).toLong, i % 3 != 0)
    }.toDF("stream", "seq", "size", "containerId", "dup")
    val cap = DestorConfig.parse("rewrite-algorithm cap 64\nrewrite-capping-level 3")
    val marked = cap.rewritePass(recipe)
    assert(marked.columns.contains("outOfOrder"))
    // identical to calling the operator directly with the same knobs
    val direct = Rewrite.cap(recipe, 64, 3)
      .select($"stream", $"seq", $"outOfOrder").as[(String, Long, Boolean)]
      .collect().toSet
    val viaCfg = marked.select($"stream", $"seq", $"outOfOrder")
      .as[(String, Long, Boolean)].collect().toSet
    assert(viaCfg == direct)
    val opt = DestorConfig.parse("restore-cache opt 8\nrestore-opt-window-size 100")
    val sim = opt.restoreSim(recipe)
    assert(sim.count() == 1L)
    val lru = DestorConfig.parse("restore-cache lru 8").restoreSim(recipe)
    assert(lru.count() == 1L)
  }

  test("simulation-level dispatch: trace replay refuses 'no', dedups across jobs under 'all'") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    // job 1: fp1 twice (within-job dup) + fp2; job 2: fp1 (cross-job
    // dup against the cumulative index) + new fp3
    val j1 = Seq(("a", 0, "fp1", 60), ("a", 1, "fp2", 60), ("a", 2, "fp1", 60))
      .toDF("path", "chunkIdx", "fp", "size")
    val j2 = Seq(("a", 0, "fp1", 60), ("a", 1, "fp3", 60))
      .toDF("path", "chunkIdx", "fp", "size")
    val none = DestorConfig.parse("")
    assertThrows[IllegalArgumentException](none.tracePipeline(Seq(j1)))
    val s = DestorConfig.parse(
      "simulation-level all\nrewrite-enable-har yes\nrestore-cache lru 4")
    val out = s.tracePipeline(Seq(j1, j2), payload = 100)
      .orderBy($"backup_id")
      .select($"backup_id", $"chunks", $"unique_chunks", $"unique_size",
        $"containers_written", $"container_reads")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // job 1: 3 chunks, 2 unique (120 B) -> packs into containers 0,1;
    // job 2: fp1 deduped against job 1's index, fp3 new -> container 2
    assert(out === Seq((1L, 3L, 2L, 120L, 2L, 2L), (2L, 2L, 1L, 60L, 1L, 2L)))
  }

  test("trace replay is source-agnostic: FSL hashfile jobs produce identical stats to direct jobs") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    // same 2-job fixture as the TraceSource dispatch test, but round-
    // tripped through binary FSL v7 hashfiles (trace-format fsl)
    val fpA = "a" * 40; val fpB = "b" * 40; val fpC = "c" * 40
    val j1 = Seq(("a", 0, fpA, 60), ("a", 1, fpB, 60), ("a", 2, fpA, 60))
      .toDF("path", "chunkIdx", "fp", "size")
    val j2 = Seq(("a", 0, fpA, 60), ("a", 1, fpC, 60))
      .toDF("path", "chunkIdx", "fp", "size")
    val s = DestorConfig.parse(
      "simulation-level all\ntrace-format fsl\nrewrite-enable-har yes\nrestore-cache lru 4")
    val tmp = java.nio.file.Files.createTempDirectory("graft_fsl_pipe")
    val jobs = Seq(j1, j2).zipWithIndex.map { case (j, i) =>
      val d = tmp.resolve(s"b$i"); java.nio.file.Files.createDirectories(d)
      val f = d.resolve(s"backup$i.hashfile").toString
      graft.sources.FslSource.write(j, f)
      graft.sources.FslSource.read(spark, d.toString)
        .select($"path", $"chunkIdx".cast("int").as("chunkIdx"),
          $"fp", $"size".cast("int").as("size"))
    }
    def stats(js: Seq[org.apache.spark.sql.DataFrame]) =
      s.tracePipeline(js, payload = 100).orderBy($"backup_id")
        .select($"backup_id", $"chunks", $"unique_chunks",
          $"containers_written", $"container_reads")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(stats(jobs) === stats(Seq(j1, j2)))
    // no temp leak: the hashfiles are consumed once the stats materialize
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("rewritePass measures cfl run bytes against the caller's payload, not the 4 MiB default") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    // run 1 (cid 1): 100 B; run 2 (cid 2): 1 B — at payload 100 the
    // threshold is 0.03*100 = 3 B, so only run 2 rewrites; at the 4 MiB
    // default both runs are far below threshold and both rewrite
    val recipe = Seq(
      ("s", 1L, 50, 1L, true), ("s", 2L, 50, 1L, true), ("s", 3L, 1, 2L, true))
      .toDF("stream", "seq", "size", "containerId", "dup")
    val s = DestorConfig.parse("rewrite-algorithm cfl 64")
    val small = s.rewritePass(recipe, payload = 100)
      .select($"seq", $"outOfOrder").as[(Long, Boolean)].collect().toMap
    assert(small === Map(1L -> false, 2L -> false, 3L -> true))
    val big = s.rewritePass(recipe)
      .select($"seq", $"outOfOrder").as[(Long, Boolean)].collect().toMap
    assert(big === Map(1L -> true, 2L -> true, 3L -> true))
  }

  test("trace replay tolerates an empty backup job (zero-stats row, state carried)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val empty = Seq.empty[(String, Int, String, Int)]
      .toDF("path", "chunkIdx", "fp", "size")
    val j = Seq(("a", 0, "fpA", 60)).toDF("path", "chunkIdx", "fp", "size")
    val s = DestorConfig.parse(
      "simulation-level all\nrewrite-enable-har yes\nrestore-cache lru 4")
    val out = s.tracePipeline(Seq(empty, j), payload = 100)
      .orderBy($"backup_id")
      .select($"backup_id", $"chunks", $"unique_chunks", $"container_reads")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 0L, 0L, 0L), (2L, 1L, 1L, 1L)))
  }
}
