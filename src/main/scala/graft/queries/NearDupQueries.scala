package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.CorpusFile
import graft.pipeline._
import QuerySupport._

/** Near-duplicate document clustering: fingerprints, the flagship MinHash
  * pipeline, its oracled md5 twin, pruning and SimHash.
  */
object NearDupQueries {

  /** Document fingerprinting: gear-shingle MinHash + SimHash signatures
    * (not SQL-expressible — rows-only check).
    */
  def dFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shCfg = ShingleConfig()
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sh = Shingles.shingleHashes(
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8), shCfg)
        val mh = Shingles.minhash(sh, shCfg.minhashK)
        (id, sh.length.toLong, Shingles.simhash(sh),
          if (mh.nonEmpty) mh(0) else 0L, if (mh.nonEmpty) mh(1) else 0L)
      }
      .toDF("doc_id", "n_shingles", "simhash", "mh0", "mh1")
  }

  /** Full near-dup clustering of the documents table (rows-only check:
    * the flagship pipeline over a real table).
    */
  def dDocClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = par(spark, docsAsCorpus(spark, dir, nonEmpty = false).toDF(), "path")
      .as[CorpusFile]
    val cfg = DedupConfig()
    val features = DedupPipeline.featurize(files, cfg)
    DedupPipeline.cluster(features, cfg)
      .withColumnRenamed("fileId", "file_id")
      .withColumnRenamed("clusterId", "cluster_id")
  }

  /** End-to-end near-dup CLUSTERING with a full DuckDB oracle — the
    * flagship pipeline's exact shape (shingle → banded MinHash → LSH
    * buckets → hub-star candidate linearization → exact-Jaccard verify →
    * iterative connected components) re-expressed over SQL-recomputable
    * hashing (md5 band hashes over distinct 8-grams) so every stage,
    * including the CC fixpoint, is value-checked against DuckDB (recursive
    * CTE min-label closure).
    *
    * Scale notes (same properties as the production path):
    *  - 1-row-per-band MinHash: band signature = min over grams of
    *    md5(band:gram) — combinable aggregate, no per-doc state;
    *  - hub-star per (band,sig) bucket: candidate edges are
    *    (min-doc, member), LINEAR in bucket size — a boilerplate bucket of
    *    10^6 docs yields 10^6 edges, never 10^12 pairs;
    *  - verify threshold in pure integer arithmetic
    *    (3·|∩| ≥ |A|+|B| ⇔ Jaccard ≥ 0.5) — no float-order drift;
    *  - clustering via [[ConnectedComponents.run]] — the engine's own CC
    *    (driver union-find up to its edge cap, min-label/pointer-jump
    *    rounds above), here proven value-identical to the declarative
    *    transitive closure.
    */
  def dMinhashCluster(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val docs = d.select(col("doc_id"))
    val grams = d.filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 7)).as("i"))
      .select(col("doc_id"), expr("substring(text, i, 8)").as("g"))
      .distinct()
    val nBands = 8
    val sigs = grams
      .select(col("doc_id"), col("g"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        md5(concat(col("band").cast("string"), lit(":"), col("g"))).as("h"))
      .groupBy(col("doc_id"), col("band"))
      .agg(min(col("h")).as("sig"))
    val hubs = sigs.groupBy(col("band"), col("sig")).agg(min(col("doc_id")).as("hub"))
    val cand = sigs.join(hubs, Seq("band", "sig"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("a"), col("doc_id").as("b"))
      .distinct()
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(grams.toDF("a", "g"), Seq("a"))
      .join(grams.toDF("b", "g"), Seq("b", "g"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    val edges = inter
      .join(sizes.toDF("a", "na"), Seq("a"))
      .join(sizes.toDF("b", "nb"), Seq("b"))
      .filter(col("inter") * 3 >= col("na") + col("nb"))
      .select(col("a"), col("b"))
    ConnectedComponents.run(docs.toDF("fileId"), edges)
      .select(col("fileId").as("doc_id"), col("clusterId").as("cluster_id"))
  }

  /** Near-dup retention ACTION on top of [[dMinhashCluster]]'s fully
    * oracled clustering: per cluster keep ONE canonical member — the
    * longest document, ties to the lowest doc_id (the "keep the richest
    * copy" curation rule; the reference's dedup keeps the FIRST writer,
    * which `keep` degenerates to when lengths tie). Emits one row per
    * document with its cluster, the cluster size, the chosen canonical
    * id, and the keep/drop decision — the per-row form a downstream
    * training-data filter joins on.
    *
    * Scale: clustering is the flagship path (hub-star buckets, integer
    * Jaccard verify, log-diameter CC); canonical selection is ONE
    * combinable `min(struct(-len, id))` aggregate per cluster plus one
    * cluster-keyed join back — no windows, no per-cluster sort, no
    * collect. A 10^6-member boilerplate cluster costs one agg group.
    */
  def dNeardupPrune(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val clusters = dMinhashCluster(spark, dir)
    val lens = d.select(col("doc_id"),
      length(col("text")).cast("long").as("char_len"))
    val withLen = clusters.join(lens, Seq("doc_id"))
    val canon = withLen
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        min(struct((-col("char_len")).as("neg_len"),
          col("doc_id").as("doc_id"))).as("c"))
      .select(col("cluster_id"), col("cluster_size"),
        col("c.doc_id").as("canon_id"))
    withLen.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("canon_id"),
        when(col("doc_id") === col("canon_id"), 1L).otherwise(0L).as("keep"))
  }

  /** Replayable SimHash analog WITH a value oracle (the production
    * SimHash in [[graft.pipeline.Shingles]] is gear-shingle based and so
    * only spec-tested): per word, a 60-bit hash from the first 15 md5 hex
    * nibbles; SimHash = sign-sum over word occurrences per bit; 4 bands
    * of 15 bits block the candidate join with hub-star linearization
    * (same shape as the production SimHash path); pairs within Hamming
    * radius 3 of their hub emitted with the distance. Deterministic
    * integer arithmetic end to end — DuckDB replays every stage.
    */
  def dSimhashMd5(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val words = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val bits = words
      .select(col("doc_id"), md5(col("w")).as("h"),
        explode(sequence(lit(1), lit(15))).as("p"))
      .select(col("doc_id"), col("p"),
        expr("cast(conv(substring(h, p, 1), 16, 10) as int)").as("nib"))
      .select(col("doc_id"), col("p"), col("nib"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .select(col("doc_id"),
        ((col("p") - 1) * 4 + col("b")).as("j"),
        expr("(shiftright(nib, b) & 1)").as("bit"))
    val sig = bits
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("bit") * 2 - 1).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") >= 0, expr("shiftleft(cast(1 as bigint), j)"))
        .otherwise(0L)).as("sig"))
    val bv = sig
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("t"))
      .select(col("doc_id"), col("sig"), col("t"),
        expr("shiftright(sig, 15 * t) & 32767").as("v"))
    val hubs = bv.groupBy(col("t"), col("v")).agg(min(col("doc_id")).as("hub"))
    val cand = bv.join(hubs, Seq("t", "v"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("a"), col("doc_id").as("b"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("a"), col("sig").as("sa")), Seq("a"))
      .join(sig.select(col("doc_id").as("b"), col("sig").as("sb")), Seq("b"))
      .withColumn("hamming", expr("cast(bit_count(sa ^ sb) as bigint)"))
      .filter(col("hamming") <= 3)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** SimHash near-dup candidate pairs over documents. Rows-only by
    * necessity: the 64-bit SimHash derives from gear micro-shingles, which
    * no SQL engine can recompute — DuckDB's bit_count could check the
    * popcount column but only given the simhash values themselves, which
    * would be circular. The banding/Hamming semantics are instead
    * spec-gated (PipelineSpec hub-star + radius tests); the SQL-expressible
    * analog of banded signature dedup is oracle-checked via e_lsh_dedup.
    */
  def dSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val files = docsAsCorpus(spark, dir, nonEmpty = false)
    val feats = DedupPipeline.featurize(files, DedupConfig()).toDF()
    val cands = DedupPipeline.simhashCandidates(feats, DedupConfig())
    // always non-empty: emit per-file simhash population counts alongside
    feats.select(col("fileId"), col("simhash"))
      .withColumn("popcount", expr("bit_count(simhash)").cast("long"))
      .join(cands.withColumnRenamed("a", "fileId")
        .groupBy(col("fileId")).agg(count(lit(1)).as("cand_pairs")),
        Seq("fileId"), "left")
      .na.fill(0L, Seq("cand_pairs"))
  }

  /** Oracle CTE chain shared by [[dMinhashCluster]] and [[dNeardupPrune]]:
    * banded md5 MinHash over distinct 8-grams, hub-star buckets, the
    * integer Jaccard verify (3·|∩| ≥ |A|+|B|) and `reach`, the recursive
    * min-label closure whose per-node minimum is the cluster id.
    */
  private val minhashReachSql =
    """WITH RECURSIVE
      |d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
      |grams AS (
      |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 8) AS g
      |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i FROM d)),
      |bands AS (SELECT unnest(generate_series(0, 7)) AS band),
      |sigs AS (
      |  SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || ':' || g)) AS sig
      |  FROM grams, bands GROUP BY doc_id, band),
      |hubs AS (SELECT band, sig, min(doc_id) AS hub FROM sigs GROUP BY band, sig),
      |cand AS (
      |  SELECT DISTINCT h.hub AS a, s.doc_id AS b
      |  FROM sigs s JOIN hubs h USING (band, sig) WHERE s.doc_id <> h.hub),
      |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT c.a, c.b, count(*) AS inter
      |  FROM cand c
      |  JOIN grams ga ON ga.doc_id = c.a
      |  JOIN grams gb ON gb.doc_id = c.b AND gb.g = ga.g
      |  GROUP BY c.a, c.b),
      |edges AS (
      |  SELECT i.a, i.b FROM inter i
      |  JOIN sizes sa ON sa.doc_id = i.a
      |  JOIN sizes sb ON sb.doc_id = i.b
      |  WHERE 3 * i.inter >= sa.n + sb.n),
      |sym AS (SELECT a AS x, b AS y FROM edges UNION SELECT b, a FROM edges),
      |reach(node, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT s.y, r.label FROM reach r JOIN sym s ON s.x = r.node
      |  WHERE r.label < s.y)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("d_fingerprint", dFingerprint, None),
    QueryDef("d_doc_clusters", dDocClusters, None),
    // end-to-end clustering oracle: banded md5 MinHash → hub-star buckets
    // → integer-arithmetic Jaccard verify → recursive-CTE min-label
    // closure ≡ the Spark job's iterative connected components
    QueryDef("d_minhash_cluster", dMinhashCluster, Some(
      s"""$minhashReachSql
        |SELECT node AS doc_id, min(label) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin)),
    QueryDef("d_neardup_prune", dNeardupPrune, Some(
      s"""$minhashReachSql,
        |clusters AS (
        |  SELECT node AS doc_id, min(label) AS cluster_id
        |  FROM reach GROUP BY node),
        |wl AS (
        |  SELECT c.doc_id, c.cluster_id, CAST(length(dd.text) AS BIGINT) AS char_len
        |  FROM clusters c JOIN documents dd USING (doc_id)),
        |rnk AS (
        |  SELECT doc_id, cluster_id,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY char_len DESC, doc_id ASC) AS rn
        |  FROM wl),
        |canon AS (SELECT cluster_id, doc_id AS canon_id FROM rnk WHERE rn = 1),
        |csize AS (SELECT cluster_id, count(*) AS cluster_size FROM wl GROUP BY 1)
        |SELECT w.doc_id, w.cluster_id, s.cluster_size, c.canon_id,
        |  CAST(CASE WHEN w.doc_id = c.canon_id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM wl w JOIN canon c USING (cluster_id) JOIN csize s USING (cluster_id)""".stripMargin)),
    QueryDef("d_simhash_md5", dSimhashMd5, Some(
      """WITH words AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |nib AS (
        |  SELECT doc_id, p, strpos('0123456789abcdef', substr(md5(w), CAST(p AS INTEGER), 1)) - 1 AS nib
        |  FROM words, (SELECT unnest(generate_series(1, 15)) AS p)),
        |bits AS (
        |  SELECT doc_id, (p - 1) * 4 + b AS j, (nib >> CAST(b AS INTEGER)) & 1 AS bit
        |  FROM nib, (SELECT unnest(generate_series(0, 3)) AS b)),
        |s AS (SELECT doc_id, j, sum(2 * bit - 1) AS s FROM bits GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS sig
        |  FROM s GROUP BY 1),
        |bv AS (
        |  SELECT doc_id, sig, t, (sig >> CAST(15 * t AS INTEGER)) & 32767 AS v
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS t)),
        |hubs AS (SELECT t, v, min(doc_id) AS hub FROM bv GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT h.hub AS a, b.doc_id AS b
        |  FROM bv b JOIN hubs h USING (t, v) WHERE b.doc_id <> h.hub)
        |SELECT a, b, hamming FROM (
        |  SELECT c.a, c.b, CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.a
        |  JOIN sig sb ON sb.doc_id = c.b)
        |WHERE hamming <= 3""".stripMargin)),
    QueryDef("d_simhash_pairs", dSimhashPairs, None)
  )
}
