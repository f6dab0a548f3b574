package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Restore-locality simulation (reference: 3-phase restore with LRU /
  * OPT caches and the speed-factor metric, src/do_restore.c,
  * src/optimal_restore.c, src/restore_aware.c).
  *
  * The reference *executes* restores; we simulate the cache behaviour
  * analytically per stream (simulation-level=restore spirit,
  * src/destor.h:56-59): each stream's container access sequence is folded
  * through an exact LRU or Belady-OPT cache, in parallel across streams.
  *
  * speed factor = restored MiB per container read
  * (src/do_restore.c:274-275); CFL = ⌈restored bytes / container size⌉ /
  * container reads (src/restore_aware.c:45-68).
  */
object RestoreSim {

  final case class StreamRestoreStats(
      stream: String,
      chunks: Long,
      bytes: Long,
      containerReads: Long,
      speedFactor: Double,
      cfl: Double)

  val ContainerSize: Long = 4L * 1024 * 1024

  /** W8 forward assembly (reference: src/assembly_restore.c:13-188):
    * the recipe is consumed in assembly areas of (cacheSize-1) × 4 MiB;
    * within one area every needed container is read exactly once and all
    * its chunks in the area are filled on that read.
    */
  private def asmStats(stream: String, accesses: Iterator[(Long, Int)],
      cacheSize: Int): StreamRestoreStats = {
    var chunks = 0L
    var bytes = 0L
    var reads = 0L
    val areaCapacity = (cacheSize - 1).toLong * ContainerSize
    var areaBytes = 0L
    val areaContainers = scala.collection.mutable.Set.empty[Long]
    accesses.foreach { case (cid, size) =>
      if (areaBytes + size > areaCapacity && areaBytes > 0) {
        reads += areaContainers.size
        areaContainers.clear()
        areaBytes = 0
      }
      chunks += 1; bytes += size
      areaBytes += size
      areaContainers += cid
    }
    reads += areaContainers.size
    val sf = if (reads == 0) 0.0 else bytes / (1024.0 * 1024.0) / reads
    val cfl = if (reads == 0) 0.0
      else math.ceil(bytes.toDouble / ContainerSize) / reads
    StreamRestoreStats(stream, chunks, bytes, reads, sf, cfl)
  }

  private def lruStats(stream: String, accesses: Iterator[(Long, Int)],
      cacheSize: Int): StreamRestoreStats = {
    var chunks = 0L
    var bytes = 0L
    var reads = 0L
    val cache = new java.util.LinkedHashMap[Long, java.lang.Boolean](16, 0.75f, true)
    accesses.foreach { case (cid, size) =>
      chunks += 1; bytes += size
      if (!cache.containsKey(cid)) {
        reads += 1
        cache.put(cid, java.lang.Boolean.TRUE)
        if (cache.size() > cacheSize) {
          val it = cache.keySet().iterator(); it.next(); it.remove()
        }
      } else cache.get(cid) // touch for recency
    }
    val sf = if (reads == 0) 0.0 else bytes / (1024.0 * 1024.0) / reads
    val cfl = if (reads == 0) 0.0
      else math.ceil(bytes.toDouble / ContainerSize) / reads
    StreamRestoreStats(stream, chunks, bytes, reads, sf, cfl)
  }

  /** Belady-OPT with a BOUNDED lookahead window (reference:
    * src/optimal_restore.c:68-126, default window 1M records,
    * src/destor.c:93): only `lookahead` upcoming accesses are buffered —
    * O(lookahead) memory regardless of stream length, so a stream of
    * billions of chunks never materializes in one task. A cached container
    * with no buffered next use sorts as farthest (evicted first), exactly
    * the reference's empty-seqno-queue ordering
    * (src/optimal_restore.c:37-48); the buffer refills when half-drained
    * (src/optimal_restore.c:117). Ties break toward the larger container
    * id — deterministic, unlike a hash-map maxBy.
    */
  private def optStats(stream: String, accesses: Iterator[(Long, Int)],
      cacheSize: Int, lookahead: Int): StreamRestoreStats = {
    var chunks = 0L
    var bytes = 0L
    var reads = 0L
    val buf = new java.util.ArrayDeque[(Long, Int)]()
    // cid -> queue of global positions of its buffered accesses
    val positions = scala.collection.mutable.Map.empty[Long, java.util.ArrayDeque[Long]]
    var appended = 0L
    def fill(): Unit =
      while (buf.size < lookahead && accesses.hasNext) {
        val a = accesses.next()
        buf.addLast(a)
        positions.getOrElseUpdate(a._1,
          new java.util.ArrayDeque[Long]()).addLast(appended)
        appended += 1
      }
    val inCache = scala.collection.mutable.Set.empty[Long]
    fill()
    while (!buf.isEmpty) {
      val (cid, size) = buf.removeFirst()
      val q = positions(cid)
      q.removeFirst()
      if (q.isEmpty) positions.remove(cid)
      chunks += 1; bytes += size
      if (!inCache.contains(cid)) {
        reads += 1
        if (inCache.size >= cacheSize) {
          var victim = Long.MinValue
          var victimNext = Long.MinValue
          inCache.foreach { c =>
            val nxt = positions.get(c) match {
              case Some(pq) => pq.peekFirst(): Long
              case None => Long.MaxValue // no use inside the window
            }
            if (nxt > victimNext || (nxt == victimNext && c > victim)) {
              victim = c; victimNext = nxt
            }
          }
          inCache.remove(victim)
        }
        inCache += cid
      }
      if (buf.size * 2 <= lookahead) fill()
    }
    val sf = if (reads == 0) 0.0 else bytes / (1024.0 * 1024.0) / reads
    val cfl = if (reads == 0) 0.0
      else math.ceil(bytes.toDouble / ContainerSize) / reads
    StreamRestoreStats(stream, chunks, bytes, reads, sf, cfl)
  }

  /** Simulate the restore cache per stream. Input: recipe with
    * (stream, seq, size, containerId). policy: "lru" | "opt" | "asm".
    * OPT's memory is bounded by `optLookahead` (reference default 1M,
    * src/destor.c:93) — never the whole stream.
    */
  def simulate(recipe: DataFrame, cacheSize: Int = 128,
      policy: String = "lru",
      optLookahead: Int = 1 << 20): Dataset[StreamRestoreStats] = {
    val spark = recipe.sparkSession
    import spark.implicits._
    require(Seq("lru", "opt", "asm").contains(policy), s"unknown policy: $policy")
    // Shuffle-sort by (stream, seq), then fold each stream's rows as they
    // stream off the sorter — no stage ever materializes a whole stream in
    // memory (the old groupByKey + toArray.sortBy did; a billion-chunk
    // stream would OOM one task). Spill-friendly: Spark's external sorter
    // handles streams far larger than executor memory.
    recipe.select(col("stream"), col("seq"), col("containerId"), col("size"))
      .as[(String, Long, Long, Int)]
      .repartition(col("stream"))
      .sortWithinPartitions(col("stream"), col("seq"))
      .mapPartitions { it =>
        val peek = it.buffered
        new Iterator[StreamRestoreStats] {
          def hasNext: Boolean = peek.hasNext
          def next(): StreamRestoreStats = {
            val stream = peek.head._1
            // sub-iterator over this stream's contiguous run; each stats
            // fold fully drains it before the outer next() is called again
            val acc = new Iterator[(Long, Int)] {
              def hasNext: Boolean = peek.hasNext && peek.head._1 == stream
              def next(): (Long, Int) = { val r = peek.next(); (r._3, r._4) }
            }
            simulateStream(stream, acc, cacheSize, policy, optLookahead)
          }
        }
      }
  }

  /** One stream's cache replay: `accesses` are its (containerId, size)
    * pairs in seq order. [[simulate]] folds each stream of a distributed
    * recipe through it; a caller holding a recipe on the driver calls it
    * directly. */
  def simulateStream(stream: String, accesses: Iterator[(Long, Int)],
      cacheSize: Int, policy: String,
      optLookahead: Int): StreamRestoreStats =
    policy match {
      case "asm" => asmStats(stream, accesses, cacheSize)
      case "opt" => optStats(stream, accesses, cacheSize, optLookahead)
      case "lru" => lruStats(stream, accesses, cacheSize)
      case other =>
        throw new IllegalArgumentException(s"unknown policy: $other")
    }

  /** Run-length container access records (reference S7: consecutive-dedup
    * of recipe container ids, src/recipe/recipestore.c:372-399) — the OPT
    * cache's lookahead input. The per-stream lag is the two-phase
    * boundary-row exchange of [[DedupPipeline.streamRuns]] (a record
    * starts exactly where a container run starts), never a per-stream
    * window sort.
    */
  def accessRecords(recipe: DataFrame): DataFrame =
    DedupPipeline.streamRuns(recipe,
        "stream", Seq("seq"), "containerId", "newRun", "runId")
      .filter(col("newRun"))
      .select(col("stream"), col("seq"), col("containerId"))
}
