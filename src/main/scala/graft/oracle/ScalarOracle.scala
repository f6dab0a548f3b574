package graft.oracle

import graft.corpus.CorpusFile
import graft.pipeline.{DedupConfig, DedupPipeline, FileFeatures, Shingles}

/** Sequential in-JVM reference implementation of the dedup-cluster
  * semantics (SURVEY.md §5): single-threaded, no Spark, exact all-pairs
  * Jaccard and union-find clustering. Defines the "reference clusters"
  * the Spark pipeline is gated against (dup-pair recall ≥ 0.99,
  * BASELINE.json north rule).
  */
object ScalarOracle {

  final class UnionFind {
    private val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
  }

  final case class OracleRun(
      features: Seq[FileFeatures],
      dupPairs: Set[(Long, Long)],
      clusters: Map[Long, Long],
      uniqueChunkCount: Long,
      totalChunkBytes: Long,
      uniqueChunkBytes: Long) {
    /** all same-cluster pairs implied by the clustering */
    def clusterPairs: Set[(Long, Long)] = {
      clusters.groupBy(_._2).values.flatMap { m =>
        val ids = m.keys.toArray.sorted
        for (i <- ids.indices.iterator; j <- (i + 1) until ids.length)
          yield (ids(i), ids(j))
      }.toSet
    }
  }

  def run(files: Seq[CorpusFile], cfg: DedupConfig): OracleRun = {
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    val sha256 = java.security.MessageDigest.getInstance("SHA-256")
    val feats = files.map(f => DedupPipeline.featurizeOne(f, cfg, sha1, sha256))

    // exact all-pairs Jaccard ≥ τ (+ sha256-equal fallback for empty sets)
    val uf = new UnionFind
    val pairs = scala.collection.mutable.Set.empty[(Long, Long)]
    val arr = feats.toArray
    var i = 0
    while (i < arr.length) {
      var j = i + 1
      while (j < arr.length) {
        val a = arr(i); val b = arr(j)
        val dup =
          if (a.sha256 == b.sha256) true
          else Shingles.jaccard(a.shingles, b.shingles) >= cfg.shingle.tau
        if (dup) {
          val key = if (a.fileId < b.fileId) (a.fileId, b.fileId) else (b.fileId, a.fileId)
          pairs += key
          uf.union(a.fileId, b.fileId)
        }
        j += 1
      }
      i += 1
    }
    val clusters = feats.map(f => f.fileId -> uf.find(f.fileId)).toMap

    // exact chunk-level dedup stats (first copy wins)
    val seen = scala.collection.mutable.Set.empty[String]
    var total = 0L
    var unique = 0L
    var uniqueCnt = 0L
    // stream order = (repo,path,commit), chunk order within file
    feats.sortBy(f => (f.repo, f.path, f.commit)).foreach { f =>
      f.chunks.foreach { c =>
        total += c.size
        if (seen.add(c.fp)) { unique += c.size; uniqueCnt += 1 }
      }
    }
    OracleRun(feats, pairs.toSet, clusters, uniqueCnt, total, unique)
  }
}
