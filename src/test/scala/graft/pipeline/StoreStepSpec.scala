package graft.pipeline

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** [[TracePipeline.oneJob]]'s two paths give the same store: the driver
  * fold (a stream of at most `localCap` chunks) and the distributed plan
  * (`localCap = 0`) must write identical final recipes, indexes and HAR
  * sparse lists, return identical stats, and replay to identical
  * restore-cache stats, under every rewrite algorithm with HAR on and
  * off and every restore cache.
  */
class StoreStepSpec extends AnyFunSuite {
  import StoreStepSpec.Store
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Payload = 8192L

  /** The paths of every generated job. Two of them order differently by
    * UTF-16 unit (String.compareTo) and by UTF-8 byte (Spark): U+1F600
    * is a surrogate pair below U+FF21 in UTF-16 and above it in UTF-8. */
  private val Paths = Seq("a/x", "a/y", "b/Ａ", "b/😀", "c")

  /** (fp, size) pool; a fingerprint always has the same size. */
  private val pool = {
    val rng = new Random(7)
    (0 until 1200).map(i => (f"fp$i%05d", 256 + rng.nextInt(1793)))
  }

  /** `n` chunks over [[Paths]] drawn from the first `reach` pool entries:
    * mostly consecutive runs (the locality rewriting acts on, and hits
    * in the previous jobs' index), with random picks that repeat a
    * fingerprint within the job. Rows arrive shuffled over 3 partitions. */
  private def job(seed: Int, n: Int, reach: Int): DataFrame = {
    val rng = new Random(seed)
    var cursor = rng.nextInt(reach)
    val picks = (0 until n).map { _ =>
      if (rng.nextDouble() < 0.7) { cursor = (cursor + 1) % reach; pool(cursor) }
      else pool(rng.nextInt(reach))
    }
    val cuts = (Seq(0, n) ++ Seq.fill(Paths.size - 1)(rng.nextInt(n + 1))).sorted
    val rows = Paths.indices.flatMap { p =>
      (cuts(p) until cuts(p + 1)).map(i =>
        (Paths(p), (i - cuts(p)).toLong, picks(i)._1, picks(i)._2))
    }
    rng.shuffle(rows).toDF("path", "chunkIdx", "fp", "size").repartition(3)
  }

  /** Four chained jobs; the second is empty. */
  private lazy val jobs = Seq(job(1, 400, 300), job(2, 0, 300),
    job(3, 450, 600), job(4, 500, 900))

  private def settingsOf(algorithm: String, har: Boolean): DestorSettings =
    DestorSettings(
      rewrite = RewriteSettings(algorithm = algorithm, bufferSize = 32,
        cflUsageThreshold = 0.1, cappingLevel = 2, enableHar = har),
      restoreCacheSize = 4, restoreOptWindow = 64)

  private val Caches = Seq("lru", "opt", "asm")

  /** Replay `js` through oneJob, chained as [[TracePipeline.run]] chains
    * them; each job must take the path its size and `localCap` select.
    * `sized` passes each job's chunk count as a caller that knows it does. */
  private def replay(js: Seq[DataFrame], s: DestorSettings,
      localCap: Int, sized: Boolean = false): Seq[Store] = {
    var index = Seq.empty[(String, Long)].toDF("fp", "idxCid")
    var prevSparse = Seq.empty[Long].toDF("containerId")
    var nextCid = 0L
    js.zipWithIndex.map { case (chunks, i) =>
      val label = s"b${i + 1}"
      val r = TracePipeline.oneJob(i + 1L, chunks, label, index, prevSparse,
        nextCid, s, Payload, TracePipeline.checkpoint, localCap,
        if (sized) Some(chunks.count()) else None)
      assert(r.local.isDefined === (chunks.count() <= localCap),
        s"job $label took the wrong path at localCap $localCap")
      val recipeCols = Seq("stream", "seq", "path", "fp", "size", "dup",
        "write", "containerId")
      assert(r.finalRec.columns.toSeq === recipeCols)
      val sims =
        if (r.stats.chunks == 0) Nil
        else Caches.map { c =>
          val sc = s.copy(restoreCache = c)
          r.local match {
            case Some(l) => sc.restoreSimLocal(label, l.accesses)
            case None => RestoreSim.simulate(
                r.finalRec.select(col("stream"), col("seq"),
                  col("containerId"), col("size")),
                sc.restoreCacheSize, c, sc.restoreOptWindow).head()
          }
        }
      val out = Store(
        r.finalRec.as[(String, Long, String, String, Int, Boolean, Boolean,
          Long)].collect().sortBy(_._2).toSeq,
        r.newIndex.as[(String, Long)].collect().sorted.toSeq,
        r.sparse.as[Long].collect().sorted.toSeq, r.stats, sims)
      index = r.newIndex
      prevSparse = r.sparse
      nextCid += r.stats.containers_written
      out
    }
  }

  /** A fingerprint whose first copy in a job is rewritten and that
    * recurs later in the job, with a later copy left unwritten when
    * `laterUnwritten` (HAR alone rewrites every copy of a sparse
    * container's chunk, so it cannot leave one). */
  private def firstCopyRewritten(st: Store, laterUnwritten: Boolean) =
    st.recipe.groupBy(_._4).values.exists { rs =>
      val byseq = rs.sortBy(_._2)
      byseq.head._6 && byseq.head._7 && byseq.tail.nonEmpty &&
        (!laterUnwritten || byseq.tail.exists(!_._7))
    }

  for (algorithm <- Seq("no", "cfl", "cbr", "cap"); har <- Seq(false, true))
    test(s"rewrite $algorithm, HAR ${if (har) "on" else "off"}: the local " +
        "and distributed store steps agree under every restore cache") {
      val s = settingsOf(algorithm, har)
      val local = replay(jobs, s, TracePipeline.LocalCap)
      val distributed = replay(jobs, s, 0)
      local.zip(distributed).zipWithIndex.foreach { case ((l, d), i) =>
        assert(l.stats === d.stats, s"stats of job ${i + 1}")
        assert(l.recipe === d.recipe, s"final recipe of job ${i + 1}")
        assert(l.index === d.index, s"index after job ${i + 1}")
        assert(l.sparse === d.sparse, s"sparse list of job ${i + 1}")
        assert(l.sims === d.sims, s"restore sims of job ${i + 1}")
      }
      // the inputs hold what the folds must handle
      val stats = local.map(_.stats)
      assert(stats(0).unique_chunks < stats(0).chunks,
        "no within-job duplicate")
      assert(stats(1).chunks === 0L)
      assert(local.drop(2).forall(_.recipe.exists(r => r._6 &&
        r._8 < stats(0).containers_written)), "no index hit")
      if (algorithm != "no" || har) {
        assert(stats.exists(_.rewritten_chunks > 0), "nothing rewritten")
        assert(local.exists(firstCopyRewritten(_, algorithm != "no")),
          "no fingerprint whose first copy is rewritten")
      }
      if (har) assert(stats.exists(_.sparse_containers > 0),
        "HAR marked no container sparse")
    }

  test("a stream of exactly localCap chunks runs locally, one more " +
      "distributed, with the same store") {
    val s = settingsOf("cbr", har = true)
    val first = jobs.take(1)
    val n = first.head.count().toInt
    val reference = replay(first, s, 0)
    assert(replay(first, s, n) === reference)
    assert(replay(first, s, n - 1) === reference)
    // the optimizer drops the limit of a plan of known size; one of
    // unknown size keeps it, and its rows reach one CollectLimit partition
    val opaque = first.map(df => spark.createDataFrame(df.rdd, df.schema))
    assert(replay(opaque, s, n) === reference)
    assert(replay(opaque, s, n - 1) === reference)
    // a caller that knows the size skips the collect above the cap
    assert(replay(first, s, n, sized = true) === reference)
    assert(replay(first, s, n - 1, sized = true) === reference)
    val longer = Seq(job(5, n + 1, 300))
    assert(replay(longer, s, n) === replay(longer, s, n + 1))
  }

  test("TracePipeline.run returns the same stats on both paths") {
    val s = settingsOf("cap", har = true).copy(restoreCache = "opt")
    def stats(localCap: Int) = TracePipeline.run(jobs, s, Payload, localCap)
      .as[TraceJobStats].collect().toSeq
    assert(stats(TracePipeline.LocalCap) === stats(0))
  }
}

object StoreStepSpec {
  /** One job's store as both paths must agree on it. */
  private final case class Store(
      recipe: Seq[(String, Long, String, String, Int, Boolean, Boolean, Long)],
      index: Seq[(String, Long)], sparse: Seq[Long], stats: TraceJobStats,
      sims: Seq[RestoreSim.StreamRestoreStats])
}
