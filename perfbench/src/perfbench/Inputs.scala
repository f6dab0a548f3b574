package perfbench

import scala.util.Random
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.corpus.{CorpusFile, CorpusGen}
import graft.functions.Hash64

/** Generated inputs of one run: one corpus parquet per snapshot (one for
  * the clustering workloads) and, for those, the truth labels
  * (fileId, baseId) — files derived from one base belong together. */
final case class Inputs(corpora: Seq[String], truth: Option[String],
    files: Seq[Long], bytes: Seq[Long]) {
  def totalFiles: Long = files.sum
  def totalMb: Double = bytes.sum / 1e6
}

/** Input generators. Every input is a pure function of (workload, seed,
  * size); the directory it lands in is keyed by those and by
  * [[Inputs.Version]], which changes whenever a generator's output does. */
object Inputs {
  final val Version = 2

  def dir(work: String, workload: String, seed: Long, size: String): String =
    s"$work/inputs/$workload-seed$seed-$size-g$Version"

  private def write(spark: SparkSession, rows: Seq[(CorpusFile, Long)],
      path: String, parts: Int): (Long, Long) = {
    import spark.implicits._
    spark.createDataset(rows.map(_._1)).repartition(parts)
      .write.mode("overwrite").parquet(s"$path/corpus")
    rows.map { case (f, b) => (Hash64.fileId(f.repo, f.path, f.commit), b) }
      .toDF("fileId", "baseId").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/truth")
    (rows.length.toLong,
      rows.map(_._1.content.getBytes("UTF-8").length.toLong).sum)
  }

  private def commit(r: Random): String = f"${r.nextLong().abs}%040x".takeRight(40)

  /** The default CorpusGen mix: exact copies, 1/5/15 % near-duplicates,
    * ~30 % license boilerplate, Zipf-skewed repositories. */
  def cluster(spark: SparkSession, seed: Long, nBases: Int, path: String,
      parts: Int): Inputs = {
    val rows = (0L until nBases).flatMap(b =>
      CorpusGen.filesForBase(seed, b, 100).map { case (f, t) => (f, t.baseId) })
    val (n, bytes) = write(spark, rows, path, parts)
    Inputs(Seq(s"$path/corpus"), Some(s"$path/truth"), Seq(n), Seq(bytes))
  }

  private val header =
    """/*
      | * Licensed to the Apache Software Foundation (ASF) under one
      | * or more contributor license agreements.  See the NOTICE file
      | * distributed with this work for additional information
      | * regarding copyright ownership.  The ASF licenses this file
      | * to you under the Apache License, Version 2.0 (the
      | * "License"); you may not use this file except in compliance
      | * with the License.
      | */
      |""".stripMargin

  /** Small, boilerplate-headed files: a few hub bases each spawn hundreds
    * of forks, vendored copies and ≤5 %-edited variants, over a background
    * of ordinary CorpusGen files. The hubs' LSH buckets outgrow
    * `ShingleConfig.maxBucket`. */
  def megacluster(spark: SparkSession, seed: Long, hubs: Int, variants: Int,
      background: Int, path: String, parts: Int): Inputs = {
    val hubRows = (0 until hubs).flatMap { h =>
      val baseId = 1000000000L + h
      val lines = CorpusGen.baseContent(seed, baseId).take(36)
      val r0 = new Random(seed * 7919L + h)
      val dir = s"src/hub$h/${r0.alphanumeric.take(8).mkString}"
      val file = s"Hub$h.scala"
      (0 until variants).map { v =>
        val r = new Random(seed * 1000003L + h * 100003L + v)
        val body =
          if (v == 0 || r.nextInt(10) < 3) lines // fork or vendored copy
          else CorpusGen.editLines(lines, r,
            Array(0.005, 0.01, 0.02, 0.05)(r.nextInt(4)))
        val vendored = r.nextBoolean()
        val f = CorpusFile(
          repo = f"fork/h$h-$v%04d",
          path = if (vendored) s"third_party/hub$h/$file" else s"$dir/$file",
          commit = commit(r), lang = "scala",
          content = header + body.mkString("\n") + "\n")
        (f, baseId)
      }
    }
    val bgRows = (0L until background).flatMap(b =>
      CorpusGen.filesForBase(seed, b, 100).map { case (f, t) => (f, t.baseId) })
    val (n, bytes) = write(spark, hubRows ++ bgRows, path, parts)
    Inputs(Seq(s"$path/corpus"), Some(s"$path/truth"), Seq(n), Seq(bytes))
  }

  /** Successive snapshots of one code tree. Each file concatenates several
    * bases, so it spans several CDC chunks. Between snapshots a few % of
    * files get line edits, inserts or deletes, and some files are added
    * and dropped. */
  def backupChain(spark: SparkSession, seed: Long, nFiles: Int,
      snapshots: Int, path: String, parts: Int): Inputs = {
    import spark.implicits._
    val r = new Random(seed)
    val pool = 4 * nFiles
    var next = 0
    // eight bases a file: snapshot sizes vary little between seeds
    def newFile(): (String, Vector[String]) = {
      val lines = (0 until 8).flatMap(_ =>
        CorpusGen.baseContent(seed, r.nextInt(pool).toLong)).toVector
      next += 1
      (f"src/m${next % 17}%02d/File$next%05d.scala", lines)
    }
    var tree = Vector.fill(nFiles)(newFile())
    val out = (0 until snapshots).map { s =>
      if (s > 0) {
        tree = tree.filter(_ => r.nextInt(100) >= 2).map { case (p, ls) =>
          if (r.nextInt(100) < 4) (p, CorpusGen.editLines(ls, r, 0.05))
          else (p, ls)
        } ++ Vector.fill(nFiles * 3 / 100)(newFile())
      }
      val sha = commit(new Random(seed * 31L + s))
      val files = tree.map { case (p, ls) =>
        CorpusFile("org/tree", p, sha, "scala", ls.mkString("\n") + "\n")
      }
      val snap = s"$path/snapshot$s"
      spark.createDataset(files).repartition(parts)
        .write.mode("overwrite").parquet(snap)
      (snap, files.length.toLong,
        files.map(_.content.getBytes("UTF-8").length.toLong).sum)
    }
    Inputs(out.map(_._1), None, out.map(_._2), out.map(_._3))
  }

  def read(spark: SparkSession, path: String): Dataset[CorpusFile] = {
    import spark.implicits._
    spark.read.parquet(path).as[CorpusFile]
  }
}
