package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.corpus.CorpusFile

/** Restore = the ultimate dedup oracle (reference: src/do_restore.c —
  * restoring a backup byte-identically proves the dedup path).
  *
  * The batch formulation of J5: every fingerprint's bytes live at its
  * first-writer's (offset,size) slice; joining the recipe back to those
  * slices and reassembling per file must reproduce each file's exact
  * sha256. A duplicate chunk whose bytes differed from its first writer
  * (a false fingerprint match) would surface here.
  */
object Restore {

  /** Reassemble all files from (recipe ⋈ first-writer chunk bytes) and
    * compare against the original content hashes.
    * Returns one row: (files, restored_ok, restored_bad).
    */
  def verifyRestore(corpus: Dataset[CorpusFile], cfg: DedupConfig): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // eager: featurize runs once, before the stages that read it run side
    // by side — a lazy cache would let each of them build the same blocks
    val features = DedupPipeline.featurize(corpus, cfg).toDF().localCheckpoint()
    val restored = restoreDigests(features, corpus, "SHA-256")
    features.select($"fileId", $"sha256")
      .join(restored, Seq("fileId"), "left")
      .agg(count(lit(1)).as("files"),
        sum(when($"sha256" === $"restoredSha", 1L).otherwise(0L)).as("restored_ok"),
        sum(when($"restoredSha".isNull || $"sha256" =!= $"restoredSha", 1L)
          .otherwise(0L)).as("restored_bad"))
  }

  /** Per-file digest of the restore reassembly — the shared core of
    * [[verifyRestore]] and the driver-oracled `d_restore_md5` twin:
    * recipe rows join their first-writer owner slices, shuffle on fileId
    * with a (fileId, chunkIdx) secondary sort, and each task STREAMS the
    * pre-sorted contiguous chunk run of one file straight into a digest —
    * O(1) chunk memory per task off Spark's external sorter (the same
    * discipline as [[materialize]]'s writer; the former formulation
    * buffered a whole file's chunks in an array, so one multi-GB file
    * could OOM the verify task but not the materialize task).
    *
    * `algo` is any MessageDigest name; MD5 is what DuckDB can recompute
    * (`md5(text)`), SHA-256 matches the featurize self-check column.
    * Zero-chunk (empty) files never reach the chunk writer, so callers
    * either left-join (verify) or filter empties (oracle twin).
    */
  def restoreDigests(features: DataFrame, corpus: Dataset[CorpusFile],
      algo: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    chunkBytes(features, corpus)
      .select($"fileId", $"chunkIdx", $"bytes")
      .repartition(col("fileId"))
      .sortWithinPartitions(col("fileId"), col("chunkIdx"))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        val peek = it.buffered
        new Iterator[(Long, String)] {
          def hasNext: Boolean = peek.hasNext
          def next(): (Long, String) = {
            val fileId = peek.head._1
            val dig = java.security.MessageDigest.getInstance(algo)
            while (peek.hasNext && peek.head._1 == fileId)
              dig.update(peek.next()._3)
            (fileId, DedupPipeline.toHex(dig.digest()))
          }
        }
      }
      .toDF("fileId", "restoredSha")
  }

  /** MATERIALIZING restore — the reference's actual restore writer
    * (src/do_restore.c:132-208 rebuilds the directory tree on disk):
    * reassemble every file from (recipe ⋈ first-writer chunk bytes) and
    * write it under `outDir/<repo>/<commit>/<path>`, executor-side (each
    * task writes its own files directly — no driver funnel; on a real
    * cluster outDir is the shared filesystem, exactly like the
    * reference's restore path). Per-file verification stays in-line:
    * every written file's sha256 is compared against the original
    * content hash, the same check `destor -r` offers via its md5 mode.
    *
    * STREAMING writer: chunk rows arrive in (fileId, chunkIdx) order off
    * Spark's external sorter (repartition by fileId + secondary sort) and
    * each task streams them straight into the output file — O(1) chunk
    * memory per task, so a single multi-GB file can never OOM a task
    * (the reference's restore writer streams the same way). Returns one
    * row per file: (fileId, restoredPath, bytes, ok).
    */
  def materialize(corpus: Dataset[CorpusFile], cfg: DedupConfig,
      outDir: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val features = DedupPipeline.featurize(corpus, cfg).toDF().persist()
    val written = chunkBytes(features, corpus)
      .repartition(col("fileId"))
      .sortWithinPartitions(col("fileId"), col("chunkIdx"))
      .as[(Long, String, String, String, Int, Array[Byte])]
      .mapPartitions { it =>
        val peek = it.buffered
        new Iterator[(Long, String, Long, String)] {
          def hasNext: Boolean = peek.hasNext
          def next(): (Long, String, Long, String) = {
            val head = peek.head
            val fileId = head._1
            val repo = head._2; val path = head._3; val commit = head._4
            val sha = java.security.MessageDigest.getInstance("SHA-256")
            var bytes = 0L
            writeFile(outDir, repo, commit, path) { out =>
              // stream this file's contiguous pre-sorted chunk run
              while (peek.hasNext && peek.head._1 == fileId) {
                val r = peek.next()
                out.write(r._6); sha.update(r._6); bytes += r._6.length
              }
            }
            (fileId, s"$repo/$commit/$path", bytes,
              DedupPipeline.toHex(sha.digest()))
          }
        }
      }
      .toDF("fileId", "restoredPath", "bytes", "restoredSha")
    // zero-chunk (empty) files never reach the chunk writer but the
    // reference restores them too (do_restore.c writes every recipe
    // entry) — write them as empty files
    val emptyWritten = features
      .filter(size($"chunks") === 0)
      .select($"fileId", $"repo", $"path", $"commit")
      .as[(Long, String, String, String)]
      .map { case (fileId, repo, path, commit) =>
        writeFile(outDir, repo, commit, path)(_ => ())
        val sha = java.security.MessageDigest.getInstance("SHA-256")
        (fileId, s"$repo/$commit/$path", 0L, DedupPipeline.toHex(sha.digest()))
      }
      .toDF("fileId", "restoredPath", "bytes", "restoredSha")
    val res = features.select($"fileId", $"sha256")
      .join(written.union(emptyWritten), Seq("fileId"), "left")
      .select($"fileId", coalesce($"restoredPath", lit("(not restored)")).as("restoredPath"),
        coalesce($"bytes", lit(-1L)).as("bytes"),
        coalesce($"sha256" === $"restoredSha", lit(false)).as("ok"))
      .localCheckpoint(true) // the writes have happened; free the cache
    features.unpersist()
    res
  }

  /** The reassembly [[restoreDigests]] and [[materialize]] share: one row
    * per recipe chunk, (fileId, repo, path, commit, chunkIdx, bytes), whose
    * bytes are its fingerprint's first-writer file slice. Unordered; each
    * reader shuffles on fileId and sorts by chunkIdx to stream files.
    */
  private def chunkBytes(features: DataFrame,
      corpus: Dataset[CorpusFile]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val chunks = DedupPipeline.chunkTableDF(features)
    val corpusBin = corpus.select($"repo", $"path", $"commit",
      encode($"content", "UTF-8").as("bin"))
    // [[DedupPipeline.uniqueChunks]]' first writer: its order key is unique
    // per chunk position, so the owner's slice rides in the same aggregate
    val ownerSlices = chunks.groupBy($"fp")
      .agg(min(struct($"repo", $"path", $"commit", $"chunkIdx", $"offset",
        $"size")).as("first"))
      .select($"fp", $"first.repo".as("repo"), $"first.path".as("path"),
        $"first.commit".as("commit"), $"first.offset".as("offset"),
        $"first.size".as("size"))
      .join(corpusBin, Seq("repo", "path", "commit"))
      .select($"fp", expr("substring(bin, offset + 1, size)").as("bytes"))
    chunks
      .select($"fileId", $"repo", $"path", $"commit", $"chunkIdx", $"fp")
      .join(ownerSlices, Seq("fp"))
      .select($"fileId", $"repo", $"path", $"commit", $"chunkIdx", $"bytes")
  }

  /** Executor-side file write under outDir/<repo>/<commit>/<path> with
    * the hygiene a shared filesystem needs: escape-proof target path,
    * try/finally stream close, and write-to-temp + atomic move so a
    * failed/retried task never leaves a partial file at the final name.
    */
  private def writeFile(outDir: String, repo: String, commit: String,
      path: String)(body: java.io.OutputStream => Unit): Unit = {
    val rootP = java.nio.file.Paths.get(outDir).toAbsolutePath.normalize()
    val target = java.nio.file.Paths.get(outDir, repo, commit, path)
      .toAbsolutePath.normalize()
    require(target.startsWith(rootP),
      s"materialize: path escapes outDir: $repo/$commit/$path")
    java.nio.file.Files.createDirectories(target.getParent)
    val tmp = java.nio.file.Files.createTempFile(target.getParent,
      "." + target.getFileName.toString, ".part")
    try {
      val out = new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(tmp))
      try body(out) finally out.close()
      try java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally {
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }
}
