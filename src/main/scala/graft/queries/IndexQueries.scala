package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import QuerySupport._

/** Fingerprint-index operators (destor's index module): segmenting,
  * feature sampling, champion selection and the index presets.
  */
object IndexQueries {

  /** segId = l_orderkey; features = md5 of a coarse part bucket. */
  private def segFeaturesFromLineitem(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.select(col("l_orderkey").as("segId"),
        md5(pmod(col("l_partkey"), lit(500)).cast("string")).as("feature"))
      .distinct()
      .withColumn("recency", col("segId"))
  }

  private val segFeaturesSql =
    """SELECT DISTINCT l_orderkey AS segId,
      |  md5(CAST(l_partkey % 500 AS VARCHAR)) AS feature,
      |  l_orderkey AS recency
      |FROM lineitem""".stripMargin

  /** J2+T1 plain top-k champion segments by shared features (no trim). */
  def qChampionPlain(spark: SparkSession, dir: String): DataFrame = {
    val sf = segFeaturesFromLineitem(spark, dir)
    val idx = SimilaritySelection.buildFeatureIndex(sf, valueLength = 4)
    SimilaritySelection.topKPlain(sf.select(col("segId"), col("feature")), idx, 3)
  }

  /** J3 greedy champion selection with Sparse-Index feature trimming
    * (rows-only: iterative trim is order-dependent, not SQL-expressible).
    */
  def qChampionTrim(spark: SparkSession, dir: String): DataFrame = {
    val sf = segFeaturesFromLineitem(spark, dir)
    val idx = SimilaritySelection.buildFeatureIndex(sf, valueLength = 4)
    SimilaritySelection.topKChampions(sf.select(col("segId"), col("feature")), idx, 3)
  }

  /** W6/A1-A4 destor-parity segmenting + sampling over the documents
    * corpus chunk stream (rows-only: stateful sequence folds).
    */
  def dSegmentFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = docsAsCorpus(spark, dir, nonEmpty = false)
    val features = DedupPipeline.featurize(files, Fixed256)
    features.flatMap { f =>
      val fps = f.chunks.map(_.fp)
      val segs = Segmenting.contentDefined(avg = 4, min = 2, max = 16)(fps)
      fps.indices.groupBy(segs(_)).toSeq.flatMap { case (segId, idxs) =>
        val segFps = idxs.map(fps)
        Seq("uniform", "random", "min", "optmin").flatMap { m =>
          Sampling.sample(m, segFps, 4).map(feat => (f.fileId, segId, m, feat))
        }
      }
    }.toDF("file_id", "seg_id", "method", "feature")
  }

  /** 40-hex chunk fingerprints DuckDB can recompute: fixed-256 chunking
    * over the (ASCII) text, fp = md5(slice) || first-8-hex(md5(slice)).
    * The 8 appended chars land at hex positions [32,40) — exactly where
    * Segmenting.fpTailInt reads the reference's `*(int*)&fp[16]` — so the
    * content-defined boundary test and random sampling run on a tail the
    * SQL replay can rebuild. All avg/rate moduli used with these fps are
    * powers of two ≤ 256, so the signed-int32 Java modulus and the
    * unsigned low-byte SQL modulus agree on divisibility.
    */
  private def md5Fp40s(md: java.security.MessageDigest, text: String): Vector[String] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = (bytes.length + 255) / 256
    (0 until n).iterator.map { i =>
      md.reset()
      md.update(bytes, i * 256, math.min(256, bytes.length - i * 256))
      val h = DedupPipeline.toHex(md.digest())
      h + h.substring(0, 8)
    }.toVector
  }

  /** W6/A1-A4 segmenting + sampling, fully value-oracled — the
    * d_simhash_md5-style REPLAYABLE TWIN of [[dSegmentFeatures]]: the
    * exact same Segmenting.contentDefined and Sampling.uniform/random/
    * min/optimizedMin code paths run end to end, but over [[md5Fp40s]]
    * chunk fingerprints that DuckDB recomputes (SHA-1 fps are not
    * SQL-recomputable; md5 slices are). The DuckDB oracle replays the
    * content-defined segmenting fold as a recursive running-state CTE
    * (the r_restore_asm pattern) and each sampling method relationally,
    * including the empty-random sentinel and optmin's 8-back lookback.
    * Map-only on the Spark side: the fold is a per-document pure function.
    */
  def dSegmentMd5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents").filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val fps = md5Fp40s(md, text)
          val segs = Segmenting.contentDefined(avg = 4, min = 2, max = 16)(fps)
          fps.indices.groupBy(segs(_)).toSeq.sortBy(_._1).flatMap {
            case (segId, idxs) =>
              val segFps = idxs.map(fps)
              Seq("uniform", "random", "min", "optmin").flatMap { m =>
                Sampling.sample(m, segFps, 4).map(f => (id, segId, m, f))
              }
          }
        }
      }.toDF("doc_id", "seg_id", "method", "feature")
  }

  /** The index-preset matrix, fully value-oracled — the replayable twin
    * of [[dIndexPresets]]: every preset's forced segmenting/sampling
    * combination (DDFS, BLC, sampled, sparse, SiLo, extreme binning) runs
    * through the real IndexPresets.segmentAndSample over [[md5Fp40s]]
    * fingerprints, reporting per-preset file/segment/feature counts that
    * DuckDB recomputes preset by preset.
    */
  def dPresetsMd5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val presets = IndexPresets.names
    t(spark, dir, "documents").filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (_, text) =>
          val fps = md5Fp40s(md, text)
          presets.iterator.map { name =>
            val p = IndexPresets.preset(name)
              .copy(segmentSize = 4, segmentMin = 2, segmentMax = 16)
            val segs = IndexPresets.segmentAndSample(p)(fps)
            (name, segs.length.toLong, segs.iterator.map(_._2.size.toLong).sum)
          }
        }
      }.toDF("preset", "segments", "features")
      .groupBy(col("preset"))
      .agg(count(lit(1)).as("files"),
        sum(col("segments")).as("segments"),
        sum(col("features")).as("features"))
  }

  /** The preset candidate machinery itself — segment → sample → FIFO
    * feature index (valueLength cap) → candidate join → LOGICAL-LOCALITY
    * PREFETCH — fully value-oracled: the REAL
    * `DedupPipeline.presetCandidates` runs under a sparse-style config
    * (content-defined 4/2/16, random/2 sampling incl. the empty-sample
    * sentinel, prefetch 1, valueLength 4) over [[md5Fp40s]] fingerprints
    * with fileId = doc_id, so EVERY stage — including the FIFO recency
    * eviction order and the stream-global prefetch positions — is
    * replayable relationally in DuckDB. Streams = the `source` column;
    * file order inside a stream = zero-padded doc_id paths.
    */
  def dPresetCandMd5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val features = t(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, src, text) =>
          val fps = md5Fp40s(md, text)
          FileFeatures(fileId = id, repo = src, path = f"$id%010d",
            commit = "0", lang = "", size = 0, sha256 = "",
            chunks = fps.zipWithIndex.map { case (f, i) =>
              ChunkInfo(i * 256, 256, f, zero = false) },
            shingles = Array.empty, minhash = Array.empty, simhash = 0L)
        }
      }
    val icfg = IndexConfig(exact = false, logicalLocality = true,
      samplingMethod = "random", sampleRate = 2, segmentMethod = "content",
      segmentSize = 4, segmentMin = 2, segmentMax = 16,
      segmentPrefetch = 1, keyBytes = 20)
    DedupPipeline.presetCandidates(features, icfg, valueLength = 4)
  }

  /** Full near-dup clustering of documents through a destor index PRESET
    * (sparse index: content-defined segmenting + random sampling + FIFO
    * feature index) instead of MinHash LSH — the reference's own
    * similarity loop end to end (rows-only: SHA-1 features).
    */
  def dPresetClusters(spark: SparkSession, dir: String): DataFrame = {
    val files = docsAsCorpus(spark, dir, nonEmpty = false)
    val cfg = DedupConfig(chunker = graft.chunking.ChunkerConfig(
      "rabin", minSize = 64, avgSize = 256, maxSize = 2048))
    val features = DedupPipeline.featurize(files, cfg).persist()
    val icfg = IndexPresets.preset("sparse").copy(
      segmentSize = 4, segmentMin = 2, segmentMax = 16, sampleRate = 2)
    val cand = DedupPipeline.presetCandidates(features, icfg)
    val verified = DedupPipeline.verifiedPairs(cand, DedupPipeline.sigs(features), cfg)
      .select(col("a"), col("b"))
    val out = ConnectedComponents.run(
        features.select(col("fileId")).toDF("fileId"), verified, cfg.ccMaxIter)
      .withColumnRenamed("fileId", "file_id")
      .withColumnRenamed("clusterId", "cluster_id")
      .localCheckpoint(true)
    features.unpersist()
    out
  }

  /** Index-preset matrix over the documents chunk stream: every published
    * system's forced segmenting/sampling combination (DDFS, BLC, sampled,
    * sparse, SiLo, extreme binning) applied per file, reporting segment
    * and feature counts (rows-only: SHA-1 fps aren't SQL-recomputable).
    */
  def dIndexPresets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = docsAsCorpus(spark, dir, nonEmpty = false)
    val features = DedupPipeline.featurize(files, Fixed256)
    val presets = IndexPresets.names
    features.flatMap { f =>
      val fps = f.chunks.map(_.fp)
      presets.iterator.map { name =>
        // small segments so document-sized streams actually split
        val p = IndexPresets.preset(name).copy(segmentSize = 4, segmentMin = 2, segmentMax = 16)
        val segs = IndexPresets.segmentAndSample(p)(fps)
        (name, segs.length.toLong, segs.iterator.map(_._2.size.toLong).sum)
      }
    }.toDF("preset", "segments", "features")
      .groupBy(col("preset"))
      .agg(count(lit(1)).as("files"),
        sum(col("segments")).as("segments"),
        sum(col("features")).as("features"))
  }

  /** Shared CTE prefix for the md5-fp40 replayable twins
    * ([[dSegmentMd5]]/[[dPresetsMd5]] oracles): fixed-256 md5 chunk fps
    * with the fp-tail low byte `tb` (enough for every power-of-two ≤ 256
    * modulus the samplers use), and the content-defined segmenting fold
    * (avg 4, min 2, max 16) replayed as a recursive running-state CTE —
    * the r_restore_asm pattern. `AS MATERIALIZED` per the repo's DuckDB
    * recursive-CTE rule (window re-evaluation otherwise).
    */
  private val md5ChunkSegSql =
    """d AS MATERIALIZED (
      |  SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) > 0),
      |ch AS MATERIALIZED (
      |  SELECT doc_id, CAST(i AS BIGINT) AS idx, m || substr(m, 1, 8) AS fp,
      |    (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) AS tb
      |  FROM (SELECT doc_id, i, md5(substr(text, CAST(i * 256 + 1 AS INTEGER), 256)) AS m
      |        FROM (SELECT doc_id, text,
      |                unnest(generate_series(0, CAST(ceil(len / 256.0) AS BIGINT) - 1)) AS i
      |              FROM d))),
      |st AS (
      |  SELECT doc_id, idx, CAST(0 AS BIGINT) AS sid,
      |    CAST(0 AS BIGINT) AS seg, CAST(1 AS BIGINT) AS num
      |  FROM ch WHERE idx = 0
      |  UNION ALL
      |  SELECT c.doc_id, c.idx,
      |    CASE WHEN s.num < 2 THEN s.seg
      |         WHEN c.tb % 4 = 0 THEN s.seg + 1
      |         ELSE s.seg END,
      |    CASE WHEN s.num < 2 THEN s.seg
      |         WHEN c.tb % 4 = 0 THEN s.seg + 1
      |         WHEN s.num + 1 >= 16 THEN s.seg + 1
      |         ELSE s.seg END,
      |    CASE WHEN s.num < 2 THEN s.num + 1
      |         WHEN c.tb % 4 = 0 THEN CAST(1 AS BIGINT)
      |         WHEN s.num + 1 >= 16 THEN CAST(0 AS BIGINT)
      |         ELSE s.num + 1 END
      |  FROM st s JOIN ch c ON c.doc_id = s.doc_id AND c.idx = s.idx + 1),
      |sc AS MATERIALIZED (
      |  SELECT st.doc_id, st.idx, st.sid, ch.fp, ch.tb,
      |    row_number() OVER (PARTITION BY st.doc_id, st.sid ORDER BY st.idx) - 1 AS pos,
      |    count(*) OVER (PARTITION BY st.doc_id, st.sid) AS n
      |  FROM st JOIN ch USING (doc_id, idx))""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_champion_plain", qChampionPlain, Some(
      s"""WITH sf AS ($segFeaturesSql),
        |idx AS (SELECT feature, segId AS candId FROM (
        |  SELECT feature, segId,
        |    row_number() OVER (PARTITION BY feature ORDER BY recency DESC, segId DESC) AS rn
        |  FROM sf) WHERE rn <= 4),
        |shared AS (
        |  SELECT sf.segId, idx.candId, count(DISTINCT sf.feature) AS shared
        |  FROM sf JOIN idx ON sf.feature = idx.feature
        |  WHERE sf.segId <> idx.candId
        |  GROUP BY 1, 2)
        |SELECT segId, candId, shared, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY segId ORDER BY shared DESC, candId DESC) AS BIGINT) AS rank
        |  FROM shared) WHERE rank <= 3""".stripMargin)),
    // J3 greedy champion selection with Sparse-Index trimming: the greedy
    // loop is bounded at k=3, so the oracle UNROLLS it — pick champion,
    // anti-join its features out, re-rank, three times. sharedAtPick for
    // later picks counts features remaining AFTER earlier trims (0 kept,
    // like the reference's GSequence re-sort keeps empty candidates).
    QueryDef("q_champion_trim", qChampionTrim, Some(
      s"""WITH sf AS ($segFeaturesSql),
        |idx AS (SELECT feature, segId AS candId FROM (
        |  SELECT feature, segId, row_number() OVER (PARTITION BY feature ORDER BY recency DESC, segId DESC) AS rn
        |  FROM sf) WHERE rn <= 4),
        |cf AS (
        |  SELECT sf.segId, idx.candId, sf.feature
        |  FROM sf JOIN idx ON sf.feature = idx.feature
        |  WHERE sf.segId <> idx.candId),
        |n1 AS (SELECT segId, candId, count(*) AS cnt FROM cf GROUP BY 1, 2),
        |p1 AS (SELECT segId, candId AS c1, cnt AS shared1 FROM (
        |  SELECT segId, candId, cnt, row_number() OVER (PARTITION BY segId ORDER BY cnt DESC, candId DESC) AS rn FROM n1) WHERE rn = 1),
        |f1 AS (SELECT cf.segId, cf.feature FROM cf JOIN p1 ON cf.segId = p1.segId AND cf.candId = p1.c1),
        |cf2 AS (SELECT cf.segId, cf.candId, cf.feature FROM cf JOIN p1 ON cf.segId = p1.segId
        |        WHERE cf.candId <> p1.c1
        |          AND NOT EXISTS (SELECT 1 FROM f1 WHERE f1.segId = cf.segId AND f1.feature = cf.feature)),
        |n2 AS (SELECT c.segId, c.candId, coalesce(x.cnt, 0) AS cnt FROM
        |        (SELECT n1.segId, n1.candId FROM n1 JOIN p1 ON n1.segId = p1.segId AND n1.candId <> p1.c1) c
        |        LEFT JOIN (SELECT segId, candId, count(*) AS cnt FROM cf2 GROUP BY 1, 2) x
        |          ON c.segId = x.segId AND c.candId = x.candId),
        |p2 AS (SELECT segId, candId AS c2, cnt AS shared2 FROM (
        |  SELECT segId, candId, cnt, row_number() OVER (PARTITION BY segId ORDER BY cnt DESC, candId DESC) AS rn FROM n2) WHERE rn = 1),
        |f2 AS (SELECT cf.segId, cf.feature FROM cf JOIN p2 ON cf.segId = p2.segId AND cf.candId = p2.c2),
        |cf3 AS (SELECT cf2.segId, cf2.candId, cf2.feature FROM cf2 JOIN p2 ON cf2.segId = p2.segId
        |        WHERE cf2.candId <> p2.c2
        |          AND NOT EXISTS (SELECT 1 FROM f2 WHERE f2.segId = cf2.segId AND f2.feature = cf2.feature)),
        |n3 AS (SELECT c.segId, c.candId, coalesce(x.cnt, 0) AS cnt FROM
        |        (SELECT n2.segId, n2.candId FROM n2 JOIN p2 ON n2.segId = p2.segId AND n2.candId <> p2.c2) c
        |        LEFT JOIN (SELECT segId, candId, count(*) AS cnt FROM cf3 GROUP BY 1, 2) x
        |          ON c.segId = x.segId AND c.candId = x.candId),
        |p3 AS (SELECT segId, candId AS c3, cnt AS shared3 FROM (
        |  SELECT segId, candId, cnt, row_number() OVER (PARTITION BY segId ORDER BY cnt DESC, candId DESC) AS rn FROM n3) WHERE rn = 1)
        |SELECT segId, c1 AS candId, CAST(1 AS INTEGER) AS rank, CAST(shared1 AS INTEGER) AS sharedAtPick FROM p1
        |UNION ALL SELECT segId, c2, 2, CAST(shared2 AS INTEGER) FROM p2
        |UNION ALL SELECT segId, c3, 3, CAST(shared3 AS INTEGER) FROM p3""".stripMargin)),
    QueryDef("d_segment_features", dSegmentFeatures, None),
    QueryDef("d_segment_md5", dSegmentMd5, Some(
      s"""WITH RECURSIVE $md5ChunkSegSql
        |SELECT DISTINCT doc_id, sid AS seg_id, 'uniform' AS method, fp AS feature
        |FROM sc WHERE pos % 4 = 0
        |UNION ALL
        |SELECT DISTINCT doc_id, sid, 'random', fp FROM sc WHERE tb % 4 = 0
        |UNION ALL
        |SELECT doc_id, sid, 'random', repeat('0', 40) FROM (
        |  SELECT doc_id, sid FROM sc GROUP BY 1, 2
        |  HAVING sum(CASE WHEN tb % 4 = 0 THEN 1 ELSE 0 END) = 0)
        |UNION ALL
        |SELECT DISTINCT doc_id, sid, 'min', fp FROM (
        |  SELECT doc_id, sid, fp,
        |    row_number() OVER (PARTITION BY doc_id, sid ORDER BY fp, idx) AS rn,
        |    CASE WHEN n <= 4 THEN 1
        |         ELSE n // 4 + CASE WHEN 2 * (n % 4) > 4 THEN 1 ELSE 0 END END AS fn
        |  FROM sc) WHERE rn <= fn
        |UNION ALL
        |SELECT DISTINCT a.doc_id, a.sid, 'optmin', b.fp FROM (
        |  SELECT doc_id, sid, pos,
        |    row_number() OVER (PARTITION BY doc_id, sid ORDER BY fp, idx) AS rn,
        |    CASE WHEN n <= 4 THEN 1
        |         ELSE n // 4 + CASE WHEN 2 * (n % 4) > 4 THEN 1 ELSE 0 END END AS fn
        |  FROM sc) a
        |JOIN sc b ON b.doc_id = a.doc_id AND b.sid = a.sid
        |  AND b.pos = greatest(a.pos - 8, 0)
        |WHERE a.rn <= a.fn""".stripMargin)),
    QueryDef("d_presets_md5", dPresetsMd5, Some(
      s"""WITH RECURSIVE $md5ChunkSegSql,
        |fx AS (
        |  SELECT
        |    (SELECT count(*) FROM (SELECT DISTINCT doc_id, idx // 4 FROM ch)) AS segs,
        |    (SELECT count(*) FROM (SELECT DISTINCT doc_id, idx // 4, fp FROM ch)) AS dfeat,
        |    (SELECT count(*) FROM d) AS files),
        |sp AS (
        |  SELECT count(*) AS segs,
        |    CAST(sum(CASE WHEN k = 0 THEN 1 ELSE k END) AS BIGINT) AS feats
        |  FROM (SELECT doc_id, sid,
        |          count(DISTINCT CASE WHEN tb % 128 = 0 THEN fp END) AS k
        |        FROM sc GROUP BY 1, 2))
        |SELECT 'ddfs' AS preset, files, segs AS segments, dfeat AS features FROM fx
        |UNION ALL SELECT 'blc', files, segs, dfeat FROM fx
        |UNION ALL SELECT 'sampled', files, segs, segs FROM fx
        |UNION ALL SELECT 'silo', files, segs, segs FROM fx
        |UNION ALL SELECT 'extreme_binning', files, files, files FROM fx
        |UNION ALL SELECT 'sparse', fx.files, sp.segs, sp.feats FROM fx, sp""".stripMargin)),
    QueryDef("d_preset_cand_md5", dPresetCandMd5, Some(
      s"""WITH RECURSIVE $md5ChunkSegSql,
        |feat AS (
        |  SELECT doc_id, sid, fp FROM (
        |    SELECT DISTINCT doc_id, sid, fp FROM sc WHERE tb % 2 = 0)
        |  UNION ALL
        |  SELECT doc_id, sid, repeat('0', 40) FROM (
        |    SELECT doc_id, sid FROM sc GROUP BY 1, 2
        |    HAVING sum(CASE WHEN tb % 2 = 0 THEN 1 ELSE 0 END) = 0)),
        |docs AS (SELECT doc_id, source AS stream FROM documents WHERE length(text) > 0),
        |nseg AS (SELECT doc_id, max(sid) + 1 AS nsegs FROM sc GROUP BY 1),
        |base AS (
        |  SELECT n.doc_id,
        |    coalesce(sum(n.nsegs) OVER (PARTITION BY d.stream ORDER BY n.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base0
        |  FROM nseg n JOIN docs d USING (doc_id)),
        |segpos AS (
        |  SELECT f.doc_id, d.stream, b.base0 + f.sid AS gpos, f.fp
        |  FROM feat f JOIN docs d USING (doc_id) JOIN base b ON b.doc_id = f.doc_id),
        |idx AS (
        |  SELECT fp AS feature, doc_id AS cf, stream, gpos FROM (
        |    SELECT fp, doc_id, stream, gpos,
        |      row_number() OVER (PARTITION BY fp
        |        ORDER BY doc_id DESC, stream DESC, gpos DESC) AS rn
        |    FROM segpos)
        |  WHERE rn <= 4),
        |hits AS (
        |  SELECT s.doc_id AS qf, i.cf, i.stream, i.gpos
        |  FROM segpos s JOIN idx i ON i.feature = s.fp
        |  WHERE s.doc_id <> i.cf),
        |pre AS (
        |  SELECT h.qf, t.doc_id AS cf
        |  FROM hits h
        |  JOIN (SELECT DISTINCT stream, gpos, doc_id FROM segpos) t
        |    ON t.stream = h.stream AND t.gpos = h.gpos + 1
        |  WHERE h.qf <> t.doc_id)
        |SELECT DISTINCT least(qf, cf) AS a, greatest(qf, cf) AS b
        |FROM (SELECT qf, cf FROM hits UNION ALL SELECT qf, cf FROM pre)""".stripMargin)),
    QueryDef("d_preset_clusters", dPresetClusters, None),
    QueryDef("d_index_presets", dIndexPresets, None)
  )
}
