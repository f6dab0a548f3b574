package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.CorpusFile
import graft.pipeline._

/** A job call that threw or failed an output check. */
final class CallFailed(msg: String) extends RuntimeException(msg)

/** Counts job calls and the ones that failed. A call fails if it throws
  * or one of its output checks does. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def call[T](name: String)(body: => T): T = {
    attempted += 1
    try body
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$name: $e"
        System.err.println(s"[perfbench] FAILED $name: $e")
        throw new CallFailed(name)
    }
  }

  /** A check over a whole run, not one call: counted as one failed call. */
  def require(ok: Boolean, what: => String): Unit =
    if (!ok) {
      attempted += 1
      failed += 1
      errors += what
      System.err.println(s"[perfbench] FAILED check: $what")
    }
}

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"output check: $what")
}

/** Peak resident set of this process, from the kernel's high-water mark. */
object Rss {
  /** Resets the mark (Linux 4.0+); where that is refused the peak covers
    * the whole process, which only overstates. */
  def reset(): Unit =
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case _: Exception => }
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Wall per phase, and process CPU, executor task CPU and peak RSS over
  * the phases, of the timed parts of one job. The output checks between
  * phases run Spark jobs of their own; none of them is counted. */
final class Meter(sc: SparkContext) {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val execNs = new AtomicLong
  sc.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) execNs.addAndGet(e.taskMetrics.executorCpuTime)
  })
  val wallS = mutable.LinkedHashMap.empty[String, Double]
  var cpuS = 0.0
  var execCpuS = 0.0
  var peakRssMb = 0.0

  /** Executor CPU of every task ended so far: the listener bus is drained
    * first, so a phase's tasks are all counted when it closes. */
  private def execS(): Double = { PerfbenchBus.drain(sc); execNs.get / 1e9 }

  def time[T](phase: String)(body: => T): T = {
    val e0 = execS()
    Rss.reset()
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    try body
    finally {
      wallS(phase) = wallS.getOrElse(phase, 0.0) + (System.nanoTime() - t0) / 1e9
      cpuS += (os.getProcessCpuTime - c0) / 1e9
      peakRssMb = math.max(peakRssMb, Rss.peakMb())
      execCpuS += execS() - e0
    }
  }
}

object Meter { final val Ingest = "ingest" }

/** What one job or traced run produced: counts that must agree between
  * the timed and the traced run, product metrics (quality, dedup, restore)
  * and layer counts for the trace. */
final case class Outcome(counts: Map[String, Long],
    product: Map[String, Double], layer: Map[String, Double])

final case class Env(spark: SparkSession, ledger: Ledger, parts: Int)

trait Workload {
  def name: String
  def cfg: DedupConfig
  def generate(spark: SparkSession, seed: Long, smoke: Boolean, dir: String,
      parts: Int): Inputs
  /** The timed job: every engine call through the ledger, timed by the
    * meter, followed by its output checks (untimed). */
  def job(env: Env, in: Inputs, dir: String, runId: String,
      meter: Meter): Outcome
  /** The same calls in the same order, a span around each layer call,
    * each layer's output materialized inside its span. */
  def traced(env: Env, in: Inputs, dir: String, runId: String,
      tr: Tracer): Outcome
  /** Run-level probes after the timed runs: layer counts for the trace,
    * and input checks a workload needs on every run. */
  def probe(env: Env, in: Inputs, trace: Boolean): Map[String, Double] =
    Map.empty
}

object Workload {
  val all: Seq[Workload] = Seq(ClusterWorkload, MegaclusterWorkload,
    BackupChainWorkload)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name"))
}

/** Helpers shared by the workloads. */
object Jobs {
  def requireFresh(path: String): Unit =
    Check(!new java.io.File(path).exists(), s"$path is not a fresh root")

  /** The fresh-root guard: the job wrote this run's metrics rows for every
    * stage, so no stage was resumed from an earlier run's table. */
  def requireStages(spark: SparkSession, root: String, runId: String,
      stages: Seq[String]): Unit = {
    import spark.implicits._
    val got = spark.read.parquet(s"$root/metrics")
      .filter(col("runId") === runId).select(col("stage")).distinct()
      .as[String].collect().toSet
    val missing = stages.filterNot(got)
    Check(missing.isEmpty,
      s"metrics of $root hold no rows of run $runId for ${missing.mkString(",")}")
  }

  /** Every input file has exactly one cluster id. Returns the cluster count. */
  def requireOneClusterPerFile(clusters: DataFrame, files: Long): Long = {
    val r = clusters.agg(count(lit(1)), countDistinct(col("fileId")),
      countDistinct(col("clusterId"))).head()
    Check(r.getLong(0) == files && r.getLong(1) == files,
      s"${r.getLong(0)} cluster rows over ${r.getLong(1)} fileIds for $files files")
    r.getLong(2)
  }

  /** Same-cluster pair recall and precision against the truth labels, in
    * closed form from per-(cluster, base) counts: true positives
    * Σ C(n_cb, 2), predicted pairs Σ C(n_c, 2), true pairs Σ C(n_b, 2). */
  def pairQuality(spark: SparkSession, clusters: DataFrame,
      truthPath: String): (Double, Double) = {
    val truth = spark.read.parquet(truthPath)
    val j = clusters.select(col("fileId"), col("clusterId"))
      .join(truth, Seq("fileId"))
    def pairs(df: DataFrame, keys: String*): Double = {
      val r = df.groupBy(keys.map(col): _*).count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    val tp = pairs(j, "clusterId", "baseId")
    val predicted = pairs(j, "clusterId")
    val actual = pairs(j, "baseId")
    (if (actual == 0) 1.0 else tp / actual,
      if (predicted == 0) 1.0 else tp / predicted)
  }

  /** LSH buckets with more members than `maxBucket`, re-derived from the
    * signatures with the engine's own band hashes. */
  def hotBuckets(spark: SparkSession, corpus: org.apache.spark.sql.Dataset[CorpusFile],
      cfg: DedupConfig): Long = {
    import spark.implicits._
    val sh = cfg.shingle
    DedupPipeline.sigs(DedupPipeline.featurize(corpus, cfg))
      .select($"minhash").as[Array[Long]]
      .flatMap(mh => Shingles.bandHashes(mh, sh))
      .groupBy($"value").count()
      .filter($"count" > sh.maxBucket).count()
  }

  def dirMb(path: String): Double = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum() / 1e6
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }
}

/** The north-star spark-submit job: one `ClusterJob.run` over the default
  * CorpusGen mix into a fresh checkpoint root. */
object ClusterWorkload extends Workload {
  import Jobs._
  val name = "cluster"
  val cfg = DedupConfig()
  private val stages = Seq("signatures", "chunks", "unique_chunks",
    "containers", "recipe", "candidate_pairs", "verified_pairs", "clusters",
    "summary")

  def generate(spark: SparkSession, seed: Long, smoke: Boolean, dir: String,
      parts: Int): Inputs =
    Inputs.cluster(spark, seed, if (smoke) 150 else 1000, dir, parts)

  def job(env: Env, in: Inputs, dir: String, runId: String,
      meter: Meter): Outcome = {
    val spark = env.spark
    val root = s"$dir/root"
    env.ledger.call("ClusterJob.run") {
      requireFresh(root)
      val corpus = Inputs.read(spark, in.corpora.head)
      val s = meter.time(Meter.Ingest)(ClusterJob.run(corpus, root, runId))
      requireStages(spark, root, runId, stages)
      Check(s.files == in.totalFiles, s"summary has ${s.files} files")
      val clusters = spark.read.parquet(s"$root/clusters")
      val n = requireOneClusterPerFile(clusters, in.totalFiles)
      Check(n == s.clusters, s"summary has ${s.clusters} clusters, table $n")
      val (recall, precision) = pairQuality(spark, clusters, in.truth.get)
      Outcome(
        Map("clusters" -> s.clusters, "verified_pairs" -> s.verifiedPairs,
          "unique_chunks" -> s.uniqueChunks),
        Map("pair_recall" -> recall, "pair_precision" -> precision,
          "dedup_ratio" -> s.totalBytes.toDouble / s.uniqueBytes),
        Map.empty)
    }
  }

  /** `ClusterJob.run`'s stage order, each layer's output handed to
    * `TableIO.stage` in its own `tableio` span, downstream layers reading
    * the committed tables back as the job does. */
  def traced(env: Env, in: Inputs, dir: String, runId: String,
      tr: Tracer): Outcome = {
    val spark = env.spark
    import spark.implicits._
    val root = s"$dir/traced"
    requireFresh(root)
    val corpus = Inputs.read(spark, in.corpora.head)
    var writtenMb = 0.0
    def table(name: String)(df: DataFrame): DataFrame = {
      val t = tr.span("tableio") {
        val t = TableIO.stage(spark, root, name, runId)(df)
        t.drop("_lineage")
      }
      writtenMb += dirMb(s"$root/$name")
      df.unpersist()
      t
    }
    val feat = tr.span("featurize") {
      val f = DedupPipeline.featurize(corpus, cfg).toDF().persist()
      f.count(); f
    }
    val signatures = table("signatures")(feat.select($"fileId", $"repo",
      $"path", $"commit", $"lang", $"size", $"sha256", $"shingles",
      $"minhash", $"simhash"))
    val chunkDf = tr.span("chunk_table") {
      val c = DedupPipeline.chunkTableDF(feat).persist(); c.count(); c
    }
    val chunks = table("chunks")(chunkDf)
    feat.unpersist()
    val uniqueDf = tr.span("unique_chunks") {
      val u = DedupPipeline.uniqueChunks(chunks.as[ChunkRow]).toDF().persist()
      u.count(); u
    }
    val unique = table("unique_chunks")(uniqueDf)
    val packedDf = tr.span("containers") {
      val p = DedupPipeline.packContainers(unique.as[UniqueChunk], cfg).toDF()
        .persist()
      p.count(); p
    }
    val packed = table("containers")(packedDf)
    val recipeDf = tr.span("recipe") {
      val r = DedupPipeline.recipe(chunks.as[ChunkRow], packed.as[PackedChunk])
        .persist()
      r.count(); r
    }
    table("recipe")(recipeDf)
    val sigs = tr.span("tableio") {
      val s = signatures.select($"fileId", $"sha256", $"shingles", $"minhash")
        .as[FileSig].persist()
      s.count(); s
    }
    val candDf = tr.span("candidate_pairs") {
      val c = DedupPipeline.candidatePairs(sigs, cfg).persist(); c.count(); c
    }
    val cand = table("candidate_pairs")(candDf)
    val verDf = tr.span("verified_pairs") {
      val v = DedupPipeline.verifiedPairs(cand, sigs, cfg).persist()
      v.count(); v
    }
    val verified = table("verified_pairs")(verDf)
    val exact = tr.span("exact_edges") {
      val e = DedupPipeline.exactContentEdges(sigs).persist(); e.count(); e
    }
    val clDf = tr.span("cc") {
      val c = ConnectedComponents.run(signatures.select($"fileId"),
        verified.select($"a", $"b").union(exact), cfg.ccMaxIter).persist()
      c.count(); c
    }
    val clusters = table("clusters")(clDf)
    exact.unpersist()
    // the job's summary step, left uncovered like any work between layers
    val nChunks = chunks.count()
    val nUnique = unique.count()
    val nContainers = packed.select($"containerId").distinct().count()
    val nCand = cand.count()
    val nVer = verified.count()
    val nClusters = requireOneClusterPerFile(clusters, in.totalFiles)
    sigs.unpersist()
    Outcome(
      Map("clusters" -> nClusters, "verified_pairs" -> nVer,
        "unique_chunks" -> nUnique),
      Map.empty,
      Map("chunks.count" -> nChunks.toDouble,
        "unique_chunks.count" -> nUnique.toDouble,
        "containers.count" -> nContainers.toDouble,
        "candidate_pairs.count" -> nCand.toDouble,
        "verified_pairs.count" -> nVer.toDouble,
        "verify.yield" -> (if (nCand == 0) 0.0 else nVer.toDouble / nCand),
        "clusters.count" -> nClusters.toDouble,
        "tableio.written_mb" -> writtenMb))
  }

  override def probe(env: Env, in: Inputs, trace: Boolean): Map[String, Double] =
    if (!trace) Map.empty
    else Map("candidate_pairs.hot_buckets" ->
      env.ledger.call("hot-bucket probe") {
        hotBuckets(env.spark, Inputs.read(env.spark, in.corpora.head), cfg)
      }.toDouble)
}

/** Hub-heavy near-duplicate clustering through `DedupPipeline.cluster`:
  * LSH buckets over `maxBucket` (hub-star pairs), many-round components. */
object MegaclusterWorkload extends Workload {
  import Jobs._
  val name = "megacluster"
  val cfg = DedupConfig()

  def generate(spark: SparkSession, seed: Long, smoke: Boolean, dir: String,
      parts: Int): Inputs =
    if (smoke) Inputs.megacluster(spark, seed, 2, 700, 60, dir, parts)
    else Inputs.megacluster(spark, seed, 4, 800, 400, dir, parts)

  def job(env: Env, in: Inputs, dir: String, runId: String,
      meter: Meter): Outcome = {
    val spark = env.spark
    env.ledger.call("DedupPipeline.cluster") {
      val corpus = Inputs.read(spark, in.corpora.head)
      val clusters = meter.time(Meter.Ingest) {
        val c = DedupPipeline.cluster(DedupPipeline.featurize(corpus, cfg), cfg)
          .persist()
        c.count(); c
      }
      try {
        val n = requireOneClusterPerFile(clusters, in.totalFiles)
        val (recall, precision) = pairQuality(spark, clusters, in.truth.get)
        Outcome(Map("clusters" -> n),
          Map("pair_recall" -> recall, "pair_precision" -> precision),
          Map.empty)
      } finally clusters.unpersist()
    }
  }

  /** `DedupPipeline.cluster`'s calls: featurize with the signature
    * checkpoint, then `clusterSigs`' candidate, verify, exact-edge and
    * component steps. */
  def traced(env: Env, in: Inputs, dir: String, runId: String,
      tr: Tracer): Outcome = {
    val spark = env.spark
    import spark.implicits._
    val corpus = Inputs.read(spark, in.corpora.head)
    val sigs = tr.span("featurize") {
      DedupPipeline.sigs(DedupPipeline.featurize(corpus, cfg))
        .localCheckpoint(true)
    }
    val cand = tr.span("candidate_pairs") {
      val c = DedupPipeline.candidatePairs(sigs, cfg).persist(); c.count(); c
    }
    val verified = tr.span("verified_pairs") {
      val v = DedupPipeline.verifiedPairs(cand, sigs, cfg).select($"a", $"b")
        .persist()
      v.count(); v
    }
    val exact = tr.span("exact_edges") {
      val e = DedupPipeline.exactContentEdges(sigs).persist(); e.count(); e
    }
    val clusters = tr.span("cc") {
      val c = ConnectedComponents.run(sigs.select($"fileId"),
        verified.union(exact), cfg.ccMaxIter).persist()
      c.count(); c
    }
    val nCand = cand.count()
    val nVer = verified.count()
    val n = requireOneClusterPerFile(clusters, in.totalFiles)
    Seq(cand, verified, exact, clusters).foreach(_.unpersist())
    Outcome(Map("clusters" -> n), Map.empty,
      Map("candidate_pairs.count" -> nCand.toDouble,
        "verified_pairs.count" -> nVer.toDouble,
        "verify.yield" -> (if (nCand == 0) 0.0 else nVer.toDouble / nCand),
        "clusters.count" -> n.toDouble))
  }

  override def probe(env: Env, in: Inputs, trace: Boolean): Map[String, Double] = {
    val hot = env.ledger.call("hot-bucket probe") {
      hotBuckets(env.spark, Inputs.read(env.spark, in.corpora.head), cfg)
    }
    env.ledger.require(hot > 0,
      s"megacluster has no LSH bucket over maxBucket=${cfg.shingle.maxBucket}")
    Map("candidate_pairs.hot_buckets" -> hot.toDouble)
  }
}

/** Chained incremental backups of successive snapshots, then a verified
  * restore of the newest and the expiry of the oldest. */
object BackupChainWorkload extends Workload {
  import Jobs._
  val name = "backup_chain"
  /** FastCDC, context-based rewriting plus HAR, an LRU restore cache
    * smaller than the newest snapshot's container count, and the restore
    * simulation that yields destor's speed factor. */
  val settings: DestorSettings = DestorConfig.parse(
    """chunk-algorithm fastcdc
      |chunk-avg-size 8192
      |chunk-min-size 2048
      |chunk-max-size 65536
      |rewrite-algorithm cbr 1024
      |rewrite-cbr-limit 0.05
      |rewrite-enable-har yes
      |rewrite-har-utilization-threshold 0.5
      |rewrite-har-rewrite-limit 0.05
      |restore-cache lru 8
      |simulation-level restore""".stripMargin)
  val cfg: DedupConfig = settings.dedupConfig
  /** container payload: 256 KiB gives each snapshot tens of containers at
    * this input size, more than the restore cache holds */
  val Payload: Long = 256L * 1024
  private val backupStages = Seq("chunks", "final_recipe", "index",
    "har_sparse", "restore_sim", "backup")
  private val expireStages = Seq("migration", "recipes", "index", "backup",
    "expire")

  def generate(spark: SparkSession, seed: Long, smoke: Boolean, dir: String,
      parts: Int): Inputs =
    if (smoke) Inputs.backupChain(spark, seed, 60, 3, dir, parts)
    else Inputs.backupChain(spark, seed, 150, 3, dir, parts)

  private def restoreTally(spark: SparkSession, in: Inputs,
      out: String): (Long, Long, Long) = {
    val res = Restore.materialize(Inputs.read(spark, in.corpora.last), cfg, out)
    val r = res.agg(count(lit(1)), sum(when(col("ok"), 0L).otherwise(1L)),
      sum(col("bytes"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def checkRestore(in: Inputs, t: (Long, Long, Long)): Unit = {
    Check(t._2 == 0, s"restored_bad = ${t._2}")
    Check(t._1 == in.files.last,
      s"restored ${t._1} files of a ${in.files.last}-file snapshot")
    Check(t._3 == in.bytes.last,
      s"restored ${t._3} bytes of a ${in.bytes.last}-byte snapshot")
  }

  private def checkExpire(e: ClusterJob.ExpireStats): Unit =
    Check(e.rowsAfter < e.rowsBefore,
      s"expire kept ${e.rowsAfter} of ${e.rowsBefore} recipe rows")

  private def outcome(stats: Seq[TraceJobStats], e: ClusterJob.ExpireStats,
      product: Map[String, Double], layer: Map[String, Double]): Outcome =
    Outcome(
      Map("unique_chunks" -> stats.map(_.unique_chunks).sum,
        "chunks" -> stats.map(_.chunks).sum,
        "expire_rows_after" -> e.rowsAfter),
      Map("dedup_ratio" -> stats.map(_.data_size).sum.toDouble /
          stats.map(_.stored_size).sum,
        "restore_speed_factor" -> stats.last.speed_factor) ++ product,
      Map("chunks.count" -> stats.map(_.chunks).sum.toDouble,
        "unique_chunks.count" -> stats.map(_.unique_chunks).sum.toDouble,
        "containers.count" -> stats.map(_.containers_written).sum.toDouble,
        "backup.stored_mb" -> stats.map(_.stored_size).sum / 1e6,
        "backup.rewritten_mb" -> stats.map(_.rewritten_size).sum / 1e6,
        "backup.container_reads" -> stats.map(_.container_reads).sum.toDouble,
        "gc.migrated_mb" -> e.migratedBytes / 1e6) ++ layer)

  def job(env: Env, in: Inputs, dir: String, runId: String,
      meter: Meter): Outcome = {
    val spark = env.spark
    val roots = in.corpora.indices.map(i => s"$dir/backup$i")
    var prev: Option[String] = None
    val stats = in.corpora.indices.map { i =>
      env.ledger.call(s"ClusterJob.backup ${i + 1}") {
        requireFresh(roots(i))
        val corpus = Inputs.read(spark, in.corpora(i))
        val st = meter.time(Meter.Ingest)(ClusterJob.backup(corpus, roots(i),
          runId, settings, prev, Payload))
        requireStages(spark, roots(i), runId, backupStages)
        Check(st.backup_id == i + 1, s"backup id ${st.backup_id}")
        Check(st.files == in.files(i), s"backup ${i + 1} saw ${st.files} files")
        if (i == roots.length - 1) {
          val containers = spark.read.parquet(s"${roots(i)}/final_recipe")
            .select(col("containerId")).distinct().count()
          Check(containers > settings.restoreCacheSize,
            s"newest snapshot spans $containers containers, not more than " +
              s"the ${settings.restoreCacheSize}-container restore cache")
        }
        prev = Some(roots(i))
        st
      }
    }
    val out = s"$dir/restore"
    val restoreMbPerS = env.ledger.call("Restore.materialize") {
      requireFresh(out)
      val t = meter.time("restore")(restoreTally(spark, in, out))
      checkRestore(in, t)
      deleteTree(out)
      t._3 / 1e6 / meter.wallS("restore")
    }
    val gcRoot = s"$dir/expire"
    val e = env.ledger.call("ClusterJob.expire") {
      requireFresh(gcRoot)
      val e = meter.time("expire")(ClusterJob.expire(spark, roots, "b1",
        gcRoot, runId, Payload))
      checkExpire(e)
      requireStages(spark, gcRoot, runId, expireStages)
      e
    }
    outcome(stats, e, Map("restore_mb_per_s" -> restoreMbPerS), Map.empty)
  }

  /** `ClusterJob.backup` split at its layer boundaries: featurize, the
    * chunk stream, its `chunks` table, then `backupChunkStream`; then the
    * restore and the expiry. */
  def traced(env: Env, in: Inputs, dir: String, runId: String,
      tr: Tracer): Outcome = {
    val spark = env.spark
    val roots = in.corpora.indices.map(i => s"$dir/traced$i")
    var prev: Option[String] = None
    var writtenMb = 0.0
    val stats = in.corpora.indices.map { i =>
      requireFresh(roots(i))
      val feat = tr.span("featurize") {
        val f = DedupPipeline.featurize(Inputs.read(spark, in.corpora(i)), cfg)
          .toDF().persist()
        f.count(); f
      }
      val chunkDf = tr.span("chunk_stream") {
        val c = DedupPipeline.chunkTableDF(feat)
          .select(col("repo"), col("path"), col("commit"), col("chunkIdx"),
            col("size"), col("fp"), col("zero")).persist()
        c.count(); c
      }
      val chunks = tr.span("tableio") {
        TableIO.stage(spark, roots(i), "chunks", runId)(chunkDf)
          .drop("_lineage")
      }
      writtenMb += dirMb(s"${roots(i)}/chunks")
      chunkDf.unpersist(); feat.unpersist()
      val st = tr.span("backup") {
        ClusterJob.backupChunkStream(
          chunks.select(
            concat_ws("@", col("repo"), col("path"), col("commit")).as("path"),
            col("chunkIdx"), col("fp"), col("size")),
          roots(i), runId, settings, prev, Payload)
      }
      prev = Some(roots(i))
      st
    }
    val out = s"$dir/traced-restore"
    requireFresh(out)
    val t = tr.span("restore")(restoreTally(spark, in, out))
    checkRestore(in, t)
    deleteTree(out)
    val gcRoot = s"$dir/traced-expire"
    requireFresh(gcRoot)
    val e = tr.span("gc")(ClusterJob.expire(spark, roots, "b1", gcRoot,
      runId, Payload))
    checkExpire(e)
    outcome(stats, e, Map.empty, Map("tableio.written_mb" -> writtenMb))
  }
}
