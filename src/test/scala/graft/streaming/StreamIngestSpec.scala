package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.corpus.{CorpusFile, CorpusGen}

class StreamIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("incremental ingest dedups across micro-batches via the persistent index") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stream_").toString
    val all = CorpusGen.generateLocal(nBases = 20).map(_._1)
    val (b1, b2) = all.splitAt(all.size / 2)

    val stream = MemoryStream[CorpusFile]
    val query = StreamIngest.start(stream.toDS(), root)
    stream.addData(b1: _*); query.processAllAvailable()
    stream.addData(b1: _*); query.processAllAvailable() // pure duplicates
    stream.addData(b2: _*); query.processAllAvailable()
    query.stop()

    val batches = spark.read.parquet(s"$root/batches")
      .orderBy($"batchId").as[(Long, Long, Long, Long)].collect()
    assert(batches.length === 3)
    assert(batches(0)._4 > 0, "first batch adds uniques")
    assert(batches(1)._4 === 0, "replayed batch adds zero new fingerprints")
    assert(batches(2)._4 > 0, "new files add uniques")

    // index holds exactly the distinct fps of the whole corpus
    val idx = spark.read.parquet(s"$root/fp_index")
    assert(idx.count() === idx.select($"fp").distinct().count())
  }

  test("bucketed index backend dedups identically and never shuffles the index side") {
    val tbl = "fp_index_bkt_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dir = new java.io.File(s"spark-warehouse/$tbl")
    if (dir.exists()) new scala.reflect.io.Directory(dir).deleteRecursively()
    val metrics = java.nio.file.Files.createTempDirectory("graft_bkt_").toString + "/batches"

    val all = CorpusGen.generateLocal(nBases = 20).map(_._1)
    val (b1, b2) = all.splitAt(all.size / 2)
    def ds(xs: Seq[CorpusFile]) = spark.createDataset(xs)(
      org.apache.spark.sql.Encoders.product[CorpusFile])

    StreamIngest.ingestBatchBucketed(ds(b1), 0L, tbl, metrics, nBuckets = 8)
    StreamIngest.ingestBatchBucketed(ds(b1), 1L, tbl, metrics, nBuckets = 8) // replay
    StreamIngest.ingestBatchBucketed(ds(b2), 2L, tbl, metrics, nBuckets = 8)

    val batches = spark.read.parquet(metrics)
      .orderBy($"batchId").as[(Long, Long, Long, Long)].collect()
    assert(batches(0)._4 > 0)
    assert(batches(1)._4 === 0, "replayed batch adds zero new fingerprints")
    assert(batches(2)._4 > 0)
    val idx = spark.table(tbl)
    assert(idx.count() === idx.select($"fp").distinct().count())

    // the anti-join the ingest runs: index side bucket-aligned, no shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = ds(b2).toDF().select(sha2($"content", 256).as("fp"))
        .groupBy($"fp").agg(count(lit(1)).as("n"))
        .join(spark.table(tbl).select($"fp"), Seq("fp"), "left_anti")
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      // exactly the probe side may exchange; the bucketed index must not:
      // no Exchange may appear downstream of the bucketed table scan
      val idxOnly = spark.table(tbl).select($"fp")
        .queryExecution.executedPlan.toString
      assert(!idxOnly.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("watermarked windowed throughput aggregates event time") {
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[(java.sql.Timestamp, Double)]
    val df = StreamIngest.windowedThroughput(
      events.toDF().toDF("ts", "value"), "1 minute", "2 minutes")
    val q = df.writeStream.format("memory").queryName("thr")
      .outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    events.addData((ts(0), 1.0), (ts(0), 2.0), (ts(1), 5.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    events.addData((ts(10), 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT events, total_value FROM thr ORDER BY window_start")
      .as[(Long, Double)].collect()
    assert(rows.take(2).toSeq === Seq((2L, 3.0), (1L, 5.0)))
  }

  test("stateful dedup stream: first writer wins across micro-batches") {
    import StreamIngest.ChunkEvent
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ChunkEvent]
    val out = StreamIngest.dedupStream(stream.toDS())
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    // batch 1: fp A seen twice (within-batch dup), fp B once
    stream.addData(
      ChunkEvent("A", "f1", 0, 10), ChunkEvent("A", "f2", 0, 10),
      ChunkEvent("B", "f1", 1, 20))
    q.processAllAvailable()
    // batch 2: A again (cross-batch dup — state must remember f1), C new
    stream.addData(ChunkEvent("A", "f3", 0, 10), ChunkEvent("C", "f3", 1, 30))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT fp, file, unique, dupsSoFar FROM sdedup")
      .as[(String, String, Boolean, Long)].collect().toSet
    assert(rows === Set(
      ("A", "f1", true, 0L),   // deterministic first writer (min file,seq)
      ("A", "f2", false, 1L),
      ("B", "f1", true, 0L),
      ("A", "f3", false, 2L),  // state survived the micro-batch boundary
      ("C", "f3", true, 0L)))
    // exactly one unique emission per fingerprint
    assert(rows.toSeq.filter(_._3).map(_._1).sorted === Seq("A", "B", "C"))
  }

  test("streaming commit chain: introduced vs carried across micro-batches") {
    import StreamIngest.VersionEvent
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[VersionEvent]
    val out = StreamIngest.commitStream(stream.toDS())
    val q = out.writeStream.format("memory").queryName("scommit")
      .outputMode("append").start()
    // batch 1 = commit 0 of repo R: two fresh files
    stream.addData(
      VersionEvent("R", 0, "a.c", "h1"), VersionEvent("R", 0, "b.c", "h2"))
    q.processAllAvailable()
    // batch 2 = commit 1: a carried, b modified, c new; same digest in a
    // DIFFERENT repo is its own version chain
    stream.addData(
      VersionEvent("R", 1, "a.c", "h1"), VersionEvent("R", 1, "b.c", "h2x"),
      VersionEvent("R", 1, "c.c", "h3"), VersionEvent("S", 1, "a.c", "h1"))
    q.processAllAvailable()
    // batch 3 = commit 2: b reverted to the ORIGINAL digest — carried,
    // introCseq points back to commit 0 (state survived two boundaries)
    stream.addData(VersionEvent("R", 2, "b.c", "h2"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT repo, cseq, path, introduced, introCseq FROM scommit")
      .as[(String, Long, String, Boolean, Long)].collect().toSet
    assert(rows === Set(
      ("R", 0L, "a.c", true, 0L), ("R", 0L, "b.c", true, 0L),
      ("R", 1L, "a.c", false, 0L), ("R", 1L, "b.c", true, 1L),
      ("R", 1L, "c.c", true, 1L), ("S", 1L, "a.c", true, 1L),
      ("R", 2L, "b.c", false, 0L)))
  }

  test("commit chain: out-of-order replay classifies against min(cseq)") {
    import StreamIngest.VersionEvent
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[VersionEvent]
    val out = StreamIngest.commitStream(stream.toDS())
    val q = out.writeStream.format("memory").queryName("scommit_ooo")
      .outputMode("append").start()
    // batch 1 arrives LATE commits first: commit 5 holds (a.c, h1)
    stream.addData(VersionEvent("R", 5, "a.c", "h1"))
    q.processAllAvailable()
    // batch 2 replays the EARLIER commit 2 of the same version: it
    // undercuts the stored intro, so it is the new first writer —
    // introduced=true, introCseq=2 (never introduced=false with an
    // introCseq above its own cseq, the batch-parity divergence fixed
    // this round) — and a later arrival classifies against the min
    stream.addData(VersionEvent("R", 2, "a.c", "h1"))
    q.processAllAvailable()
    stream.addData(VersionEvent("R", 7, "a.c", "h1"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT repo, cseq, path, introduced, introCseq FROM scommit_ooo")
      .as[(String, Long, String, Boolean, Long)].collect().toSet
    assert(rows === Set(
      ("R", 5L, "a.c", true, 5L),
      ("R", 2L, "a.c", true, 2L),
      ("R", 7L, "a.c", false, 2L)))
  }

  test("streaming quota: per-domain cap persists across micro-batches") {
    import StreamIngest.QuotaEvent
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[QuotaEvent]
    val out = StreamIngest.quotaStream(stream.toDS(), quota = 3)
    val q = out.writeStream.format("memory").queryName("squota")
      .outputMode("append").start()
    // batch 1: hot domain sends 2, cold domain sends 1 — all kept
    stream.addData(QuotaEvent("hot", 10L), QuotaEvent("hot", 11L),
      QuotaEvent("cold", 20L))
    q.processAllAvailable()
    // batch 2: hot crosses the cap mid-batch (rank 3 kept, rank 4-5
    // dropped — the counter survived the batch boundary); cold stays
    // under; within-batch fold is docId order, not arrival order
    stream.addData(QuotaEvent("hot", 14L), QuotaEvent("hot", 12L),
      QuotaEvent("hot", 13L), QuotaEvent("cold", 21L))
    q.processAllAvailable()
    // batch 3: hot is saturated — everything drops
    stream.addData(QuotaEvent("hot", 15L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT source, docId, rank, kept FROM squota")
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(rows === Set(
      ("hot", 10L, 1L, true), ("hot", 11L, 2L, true),
      ("cold", 20L, 1L, true),
      ("hot", 12L, 3L, true), ("hot", 13L, 4L, false),
      ("hot", 14L, 5L, false), ("cold", 21L, 2L, true),
      ("hot", 15L, 6L, false)))
    // kept count per domain = min(arrivals, Q), matching the batch twin
    assert(rows.count(r => r._1 == "hot" && r._4) === 3)
  }

  test("streaming near-dup: keep-first curation across micro-batches") {
    import StreamIngest.DocEvent
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // non-periodic texts: ~40 distinct gear shingles each, so a single
    // one-word edit perturbs only the few shingles covering it
    val base = (1 to 60).map(i =>
      s"Sentence $i walks the quick brown fox over lazy dedup engine $i.")
      .mkString(" ")
    val near = base.replaceFirst("fox over lazy", "fox over idle")
    val other = (1 to 60).map(i =>
      s"Row $i carries container packing stats and restore cache curves $i.")
      .mkString(" ")
    val stream = MemoryStream[DocEvent]
    val out = StreamIngest.neardupStream(stream.toDS())
    val q = out.writeStream.format("memory").queryName("sneardup")
      .outputMode("append").start()
    // batch 1: the base doc and one unrelated doc — both become hubs
    stream.addData(DocEvent(0L, base), DocEvent(1L, other))
    q.processAllAvailable()
    // batch 2: a near-dup of doc 0 (must hit CROSS-BATCH state), a
    // genuinely fresh doc, a near-dup of doc 1, and an exact dup of doc 0
    val fresh = (1 to 60).map(i =>
      s"Fragment $i mixes tungsten codegen stages with shuffle spill $i.")
      .mkString(" ")
    stream.addData(DocEvent(2L, near), DocEvent(3L, fresh),
      DocEvent(4L, base),
      DocEvent(5L, other.replaceFirst("packing stats", "packing data")))
    q.processAllAvailable()
    q.stop()
    val verdicts = spark.sql(
      "SELECT docId, bucket, hubId, est FROM sneardup")
    val docs = Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("docId")
    val got = StreamIngest.neardupDecide(docs, verdicts)
      .as[(Long, Boolean, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0L) === ((true, 0L)), "first arrival is kept")
    assert(got(1L) === ((true, 1L)), "unrelated doc kept")
    assert(got(2L) === ((false, 0L)),
      "near-dup must match the hub elected a batch earlier")
    assert(got(3L) === ((true, 3L)), "fresh doc kept")
    assert(got(4L) === ((false, 0L)), "exact dup canonicalizes to doc 0")
    assert(got(5L) === ((false, 1L)),
      "near-dup of the OTHER hub canonicalizes to doc 1")
  }

  test("streaming semantic dedup: keep-first duels across batches, capped state") {
    import StreamIngest.{VecEvent, SemVerdict}
    implicit val sqlCtx = spark.sqlContext
    val cents = Array(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)))
    val stream = MemoryStream[VecEvent]
    val out = StreamIngest.semDedupStream(
      stream.toDS(), cents, tau = 0.95, maxReps = 2)
    val q = out.writeStream.format("memory").queryName("ssem")
      .outputMode("append").start()
    // batch 1: one keeper per list
    stream.addData(
      VecEvent(0L, Array(1f, 0f, 0f, 0f)),
      VecEvent(1L, Array(0f, 1f, 0f, 0f)))
    q.processAllAvailable()
    // batch 2: a near-dup of v0 (cos ≈ 0.990 — MUST hit cross-batch
    // state), and a same-list non-dup (cos 0.8) that fills list 0
    stream.addData(
      VecEvent(2L, Array(0.99f, 0.14f, 0f, 0f)),
      VecEvent(3L, Array(0.8f, 0.6f, 0f, 0f)))
    q.processAllAvailable()
    // batch 3: a near-dup of the SECOND keeper (v3, cos ≈ 0.997 — state
    // grew mid-stream), then a non-dup arriving at a FULL list (kept but
    // not stored), then its exact copy (slips through — the documented
    // cap truncation)
    stream.addData(
      VecEvent(4L, Array(0.75f, 0.65f, 0f, 0f)),
      VecEvent(5L, Array(0.9f, -0.4f, 0.17f, 0f)),
      VecEvent(6L, Array(0.9f, -0.4f, 0.17f, 0f)))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT * FROM ssem").as[SemVerdict].collect()
      .map(v => v.vecId -> v).toMap
    assert(got(0L).keep && got(0L).stored && got(0L).listId == 0)
    assert(got(1L).keep && got(1L).stored && got(1L).listId == 1)
    assert(!got(2L).keep && got(2L).nearestKept == 0L,
      "near-dup must drop against the keeper elected a batch earlier")
    assert(got(3L).keep && got(3L).stored && got(3L).listId == 0)
    assert(!got(4L).keep && got(4L).nearestKept == 3L,
      "must drop against the keeper stored mid-stream, not just batch-1's")
    assert(got(5L).keep && !got(5L).stored,
      "survivor at a full list is kept but not absorbed")
    assert(got(6L).keep && !got(6L).stored,
      "duplicate of an unstored keeper slips through — the documented cap trade")
  }
}
