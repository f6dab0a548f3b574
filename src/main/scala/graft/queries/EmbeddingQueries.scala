package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import QuerySupport._

/** Embedding similarity over `embeddings`: brute-force, IVF and PQ top-k,
  * quantization, cosine dedup, LSH buckets and SemDeDup.
  */
object EmbeddingQueries {

  /** Brute-force cosine top-k ANN (baseline path). Dot products in double
    * precision, sequential array order — deterministic.
    *
    * Top-k selection is the WINDOW-FREE [[graft.functions.TopKBy]]
    * bounded heap: each scan partition forwards ≤k rows per query and
    * nothing is globally sorted — the former
    * `row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC)`
    * funneled the ENTIRE scored corpus through one task per query (the
    * per-query straggler at 100×). The double cosine rides through the
    * integer-only heap via the lossless order-preserving
    * [[graft.functions.SortableBits]] encoding, so the ranking (and the
    * DuckDB oracle, which ranks the raw doubles) is bit-for-bit the
    * window's: ties break on the double itself, never on a lossy
    * micro-unit surrogate.
    */
  def eAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val cands = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"))
    // the 20-row query side is the build side: broadcast it and stream the
    // corpus past it — the reverse (corpus broadcast) OOMs at any real size
    broadcast(queries).crossJoin(cands)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("s", graft.functions.SortableBits(
        graft.functions.CosineSim(col("q"), col("v"))))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKBy(col("s"), col("neighbor_id"), 5).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rk"),
        round(graft.functions.SortableBits.invert(col("col.score")), 4)
          .as("cosine_r"))
  }

  /** Int8 scalar-quantization audit — per dimension: code range actually
    * used and total absolute reconstruction error in integer micro-units
    * (associative bigint sum, so float accumulation order can't drift
    * between engines). The 4×-compression step a 100 TB embedding store
    * runs before ANN; recall of the dequantized cosine top-k vs exact is
    * gated in SimilaritySpec.
    */
  def eQuantizeStats(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val ex = e
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
    val stats = ex.groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    // dim-stats table is FIXED SIZE (one row per dimension) — broadcast
    // is the scale-correct plan regardless of corpus size
    ex.join(broadcast(stats), Seq("dim"))
      .withColumn("q",
        when(col("hi") === col("lo"), lit(0)).otherwise(
          round((col("x") - col("lo")) / (col("hi") - col("lo")) * 255)
            .cast("int")))
      .withColumn("deq",
        col("lo") + col("q") * (col("hi") - col("lo")) / 255)
      .withColumn("err", round(abs(col("x") - col("deq")) * 1e6).cast("long"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("err")).as("sum_abs_err_micro"),
        min(col("q")).as("qmin"), max(col("q")).as("qmax"))
  }

  /** Embedding norms + label stats (vector math via higher-order fns). */
  def eNormStats(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val sq = expr("aggregate(embedding, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))")
    e.withColumn("norm2", sq)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("norm2")), 3).as("sum_norm2"))
  }

  /** Embedding-cosine near-dup dedup, BRUTE-FORCE BASELINE: all-pairs at
    * a hard id cap (n=200) — kept only as the small-n ground truth the
    * DuckDB oracle can replay cheaply. The scale path is [[eLshDedup]]
    * (banded sign-LSH + rerank, no crossJoin), whose recall vs this brute
    * force is gated at 1.0 in SimilaritySpec.
    */
  def eCosineDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings").filter(col("vec_id") < 200)
    val l = e.select(col("vec_id").as("a"), col("embedding").as("q"))
    val r = e.select(col("vec_id").as("b"), col("embedding").as("v"))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("cosine").desc, col("b"))
    l.join(r, col("a") =!= col("b"))
      .withColumn("cosine", graft.functions.CosineSim(col("q"), col("v")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("a").as("vec_id"), col("b").as("nearest"),
        round(col("cosine"), 4).as("cosine_r"),
        (col("cosine") >= 0.95).as("is_dup"))
  }

  /** IVF ANN at full probe (nProbe = nlist): must equal brute force, so
    * the DuckDB brute-force SQL is its oracle — the driver-checked proof
    * that the IVF machinery (assignment, probing, rerank) is lossless.
    */
  def eIvfTopK(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfTopK(
      t(spark, dir, "embeddings"), queryMaxId = 20, nlist = 16, nProbe = 16, k = 5)

  /** IVF ANN partial probe — the actual scale path (candidates shrink by
    * ~nProbe/nlist; recall@5 = 0.85 at 4/16 proven in SimilaritySpec).
    * Approximate w.r.t. brute force but fully DETERMINISTIC, so it is
    * value-oracled: DuckDB replays seed centroids, argmax assignment,
    * the nProbe probe and the rerank stage by stage ([[ivfProbeSql]]).
    */
  def eIvfProbe(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfTopK(
      t(spark, dir, "embeddings"), queryMaxId = 20, nlist = 16, nProbe = 4, k = 5)

  /** IVF ANN partial probe with Lloyd-refined centroids (5 rounds) — the
    * variant a skewed/clustered 100 TB corpus needs: raw seed centroids
    * route a near-dup mega-group as pure jitter noise while k-means pulls
    * the lists onto the real structure (recall gate kmeans > seeds on the
    * clustered corpus, plus full-probe losslessness, in SimilaritySpec).
    * FULLY value-oracled since round 4: the Lloyd accumulators are
    * integer micro-units (round(x·1e6) bigint sums — no partition-order
    * float drift), so DuckDB replays all five refinement rounds, the
    * probe and the rerank exactly ([[ivfKmeansSql]]).
    */
  def eIvfKmeans(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfTopK(
      t(spark, dir, "embeddings"), queryMaxId = 20, nlist = 16, nProbe = 4,
      k = 5, kmeansIters = 5)

  /** Product-quantization ANN — the compression step PAST int8 for a
    * 100 TB embedding store (d float32 dims → m byte codes, 32× at
    * d=64/m=8): codebooks trained driver-side on a bounded deterministic
    * sample, map-only encode, batched ADC code scan with per-partition
    * bounded heaps, exact-cosine rerank of the shortlist. Rows-only: the
    * codebooks come from DRIVER-LOCAL float k-means over the sample
    * (pqTrain), whose accumulation order no SQL engine reproduces;
    * recall@5 vs exact is gated in SimilaritySpec. The HASH-GREEN twin is
    * [[ePqAdc]], which runs the identical train → encode → ADC → rerank
    * shape in integer micro-units end to end.
    */
  def ePqTopK(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.pqTopK(
      t(spark, dir, "embeddings"), queryMaxId = 20, m = 8, k = 16, topK = 5,
      refine = 16)

  /** ENGINE-EXACT PQ twin ([[graft.operators.Similarity.pqAdcTopK]]):
    * the train → encode → ADC-rank path entirely in integer micro-units
    * — quantized vectors, integer Lloyd codebooks (HALF_UP centroid
    * updates), integer asymmetric-distance tables — so DuckDB replays
    * every Lloyd round, the encode and the ADC top-k value-identically
    * ([[pqAdcSql]] unrolls the rounds like the e_ivf_kmeans oracle).
    * This is the oracle coverage e_pq_topk itself cannot have (its
    * production float path keeps the exact-cosine rerank + recall gate).
    */
  def ePqAdc(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.pqAdcTopK(
      t(spark, dir, "embeddings"), queryMaxId = 20, m = 8, k = 64,
      trainN = 500, iters = 3, topK = 5, refine = 8)

  /** Scalable embedding near-dup dedup: banded sign-LSH candidates +
    * exact-cosine rerank with hub-star hot-bucket linearization — the
    * 100 TB replacement for the all-pairs crossJoin (which
    * [[eCosineDedup]] keeps only as the capped-n oracle baseline).
    * Fully SQL-expressible, so the DuckDB oracle replays the whole thing.
    */
  def eLshDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.lshDedup(t(spark, dir, "embeddings"))

  /** SemDeDup semantic dedup ([[graft.operators.Similarity.semDedup]]):
    * integer-Lloyd k-means partitions the embedding space, near-dup
    * duels run INSIDE clusters only, and each duel drops the member
    * closer to its centroid (keep-the-rim). Fully value-oracled: the
    * DuckDB replay reuses the e_ivf_kmeans CTE chain (micro-unit Lloyd
    * rounds are engine-exact) and re-runs the intra-cluster duel join —
    * kept flags, list ids and rounded centroid similarities must all
    * match. Same nlist/iters as e_ivf_kmeans so the two oracles
    * cross-check the same centroids.
    *
    * tau is CORPUS-CALIBRATED: real embedding models put near-dups at
    * cosine ≥0.95, but the driver's synthetic embeddings are
    * near-orthogonal (max intra-cluster cosine 0.51 at sf0.01), so 0.95
    * would never fire a duel and the victim logic would ride the oracle
    * untested. 0.30 sits in this corpus's near-dup tail — 236/270/3106
    * duels at sf0.001/0.01/0.1 — so the kept flags genuinely exercise
    * the pair scan and keep rule at every sf.
    *
    * Bounded approximation: `semDedup`'s `maxList` (100 000 members by
    * default) caps the all-pairs duel. A larger list duels each member
    * against its rim hub only, so it keeps every member the uncapped rule
    * keeps and possibly more (a member that loses only to a non-hub
    * member survives). Every list at the sf0.001-sf0.1 scales is far
    * below the cap, so the oracle's all-pairs replay is the exact contract
    * here.
    */
  def eSemDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.semDedup(
      t(spark, dir, "embeddings"), nlist = 16, iters = 5, tau = 0.30)

  /** LSH-bucketed ANN scale path, fully value-oracled: 16 pseudo-random
    * hyperplanes whose coefficients derive from md5("p:i") (byte 0 as
    * unsigned minus 128 → an integer in [-128, 127]) — SQL-replayable, so
    * DuckDB recomputes the identical planes. The plane matrix is built
    * ONCE on the driver and broadcast (round 2 recomputed planes×dims
    * hash calls per row). The projection is integer arithmetic end to
    * end: embedding values are rounded to micro-units first, so the dot
    * product is an associative bigint sum with no float-order drift
    * between engines; bucket bit p = (sum > 0). Map-only — no shuffle.
    */
  def eLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planes = 16
    val maxDims = 256
    val md = java.security.MessageDigest.getInstance("MD5")
    val coef: Array[Array[Long]] = Array.tabulate(planes) { p =>
      Array.tabulate(maxDims) { i =>
        md.reset()
        val h = md.digest(
          s"$p:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ((h(0) & 0xff) - 128).toLong
      }
    }
    val bc = spark.sparkContext.broadcast(coef)
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (id, emb, label) =>
          require(emb.length <= maxDims,
            s"eLshBuckets: ${emb.length} dims exceeds plane matrix ($maxDims)")
          val micro = new Array[Long](emb.length)
          var i = 0
          while (i < emb.length) {
            // HALF_UP on the shortest decimal repr == Spark/DuckDB round()
            micro(i) = java.math.BigDecimal.valueOf(emb(i).toDouble * 1e6)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
            i += 1
          }
          var bucket = 0
          var p = 0
          while (p < planes) {
            val cp = c(p)
            var s = 0L
            var j = 0
            while (j < emb.length) { s += micro(j) * cp(j); j += 1 }
            if (s > 0) bucket |= (1 << p)
            p += 1
          }
          (id, bucket, label)
        }
      }
      .toDF("vec_id", "bucket", "label")
  }

  /** DuckDB cosine between two FLOAT lists, elementwise-in-order double
    * sums — the exact accumulation order Similarity.cosine uses, so the
    * rounded values match Spark's.
    */
  private def cosSql(a: String, b: String): String =
    s"""list_aggregate(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
       |      / (sqrt(list_aggregate(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
       |       * sqrt(list_aggregate(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))""".stripMargin

  /** Full IVF partial-probe replay — oracle for e_ivf_probe: every stage
    * of Similarity.ivfTopK at kmeansIters=0 is deterministic (seed
    * centroids = the nlist lowest vec_ids in id order; assignment =
    * argmax cosine with first-index tie-break; probe = top-nProbe
    * centroids per query with index tie-break; exact-cosine rerank), so
    * DuckDB recomputes the identical candidate sets and ranks — the
    * driver-checked proof of the PROBE path itself, beyond the
    * full-probe ≡ brute-force proof e_ivf_topk carries.
    */
  private val ivfProbeSql =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |cents AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS listId, embedding AS c
      |  FROM e ORDER BY vec_id LIMIT 16),
      |asg AS (
      |  SELECT vec_id, embedding, listId FROM (
      |    SELECT e.vec_id, e.embedding, cents.listId,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "cents.c")} DESC, cents.listId) AS rk
      |    FROM e CROSS JOIN cents)
      |  WHERE rk = 1),
      |probe AS (
      |  SELECT query_id, listId FROM (
      |    SELECT e.vec_id AS query_id, cents.listId,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "cents.c")} DESC, cents.listId) AS rk
      |    FROM e CROSS JOIN cents WHERE e.vec_id < 20)
      |  WHERE rk <= 4),
      |cand AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |    ${cosSql("qe.embedding", "a.embedding")} AS cos
      |  FROM probe p
      |  JOIN asg a USING (listId)
      |  JOIN e qe ON qe.vec_id = p.query_id
      |  WHERE a.vec_id <> p.query_id)
      |SELECT query_id, neighbor_id, rk, round(cos, 4) AS cosine_r FROM (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM cand) WHERE rk <= 5""".stripMargin

  /** Shared CTE chain for the integer-Lloyd k-means oracles
    * (e_ivf_kmeans, e_semdedup): seeds = the `nlist` lowest vec_ids,
    * `rounds` refinement rounds with micro-unit bigint accumulators,
    * ending at `asgF` = every vector's final max-cosine assignment
    * (tiebreak: lowest listId, the engine's first-index-wins).
    */
  private def kmeansCteChain(nlist: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""asg$i AS (
        |  SELECT vec_id, embedding, listId FROM (
        |    SELECT e.vec_id, e.embedding, cents${i - 1}.listId,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", s"cents${i - 1}.c")} DESC, cents${i - 1}.listId) AS rk
        |    FROM e CROSS JOIN cents${i - 1})
        |  WHERE rk = 1),
        |st$i AS (
        |  SELECT listId, CAST(ord - 1 AS INTEGER) AS dim,
        |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS s,
        |    count(*) AS n
        |  FROM (SELECT listId, unnest(embedding) AS x,
        |               unnest(generate_series(1, len(embedding))) AS ord
        |        FROM asg$i)
        |  GROUP BY 1, 2),
        |nc$i AS (
        |  SELECT listId, list(CAST(s / 1e6 / n AS FLOAT) ORDER BY dim) AS c
        |  FROM st$i GROUP BY 1),
        |cents$i AS (
        |  SELECT p.listId, coalesce(nc$i.c, p.c) AS c
        |  FROM cents${i - 1} p LEFT JOIN nc$i USING (listId))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
      |cents0 AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS listId, embedding AS c
      |  FROM e ORDER BY vec_id LIMIT $nlist),
      |$roundCtes,
      |asgF AS (
      |  SELECT vec_id, embedding, listId FROM (
      |    SELECT e.vec_id, e.embedding, cents$rounds.listId,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", s"cents$rounds.c")} DESC, cents$rounds.listId) AS rk
      |    FROM e CROSS JOIN cents$rounds)
      |  WHERE rk = 1)""".stripMargin
  }

  /** Full IVF k-means replay — oracle for e_ivf_kmeans: the Lloyd
    * accumulators are integer micro-units (round(x·1e6) bigint sums), so
    * every refinement round is engine-exact; this SQL unrolls all 5
    * rounds (assign → per-(list,dim) micro-sum → mean-as-float, empty
    * lists keep their centroid), then replays the nProbe=4 probe + exact
    * rerank like [[ivfProbeSql]].
    */
  private val ivfKmeansSql: String = {
    val rounds = 5
    s"""WITH ${kmeansCteChain(16, rounds)},
      |probe AS (
      |  SELECT query_id, listId FROM (
      |    SELECT e.vec_id AS query_id, cents$rounds.listId,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", s"cents$rounds.c")} DESC, cents$rounds.listId) AS rk
      |    FROM e CROSS JOIN cents$rounds WHERE e.vec_id < 20)
      |  WHERE rk <= 4),
      |cand AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |    ${cosSql("qe.embedding", "a.embedding")} AS cos
      |  FROM probe p
      |  JOIN asgF a USING (listId)
      |  JOIN e qe ON qe.vec_id = p.query_id
      |  WHERE a.vec_id <> p.query_id)
      |SELECT query_id, neighbor_id, rk, round(cos, 4) AS cosine_r FROM (
      |  SELECT query_id, neighbor_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM cand) WHERE rk <= 5""".stripMargin
  }

  /** SemDeDup replay — oracle for e_semdedup: the e_ivf_kmeans CTE chain
    * rebuilds the identical Lloyd-5 centroids and final assignment; each
    * vector's centroid similarity is the cosine to its own (engine-exact
    * float) centroid; the duel join replays the intra-cluster pair scan
    * at tau = 0.30 (corpus-calibrated — see [[eSemDedup]]) with the same
    * victim rule (closer-to-centroid loses, csim ties drop the higher
    * id).
    */
  private val semDedupSql: String = {
    val rounds = 5
    s"""WITH ${kmeansCteChain(16, rounds)},
      |cs AS MATERIALIZED (
      |  SELECT a.vec_id, a.embedding, a.listId,
      |    ${cosSql("a.embedding", "c.c")} AS csim
      |  FROM asgF a JOIN cents$rounds c USING (listId)),
      |vict AS (
      |  SELECT DISTINCT CASE WHEN x.csim > y.csim THEN x.vec_id
      |                       WHEN y.csim > x.csim THEN y.vec_id
      |                       ELSE greatest(x.vec_id, y.vec_id) END AS victim
      |  FROM cs x JOIN cs y ON x.listId = y.listId AND x.vec_id < y.vec_id
      |  WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.30)
      |SELECT c.vec_id, CAST(c.listId AS BIGINT) AS list_id,
      |  round(c.csim, 4) AS centroid_sim_r,
      |  v.victim IS NULL AS kept
      |FROM cs c LEFT JOIN vict v ON v.victim = c.vec_id""".stripMargin
  }

  /** Integer-PQ replay — oracle for e_pq_adc: micro-unit vectors, the
    * per-subspace integer Lloyd rounds unrolled (assign by integer L2
    * with lowest-centroid tiebreak → HALF_UP integer centroid update,
    * empty cells keep their centroid), integer encode, integer ADC
    * tables and the (ip DESC, id ASC) top-k. Every value BIGINT — no
    * float appears anywhere, so the replay is engine-exact by
    * construction.
    */
  private val pqAdcSql: String = {
    val (m, k, trainN, iters, nQueries, topK, refine) = (8, 64, 500, 3, 20, 5, 8)
    val keep = refine * topK
    val dsub = 64 / m
    val roundCtes = (1 to iters).map { i =>
      s"""d$i AS (
        |  SELECT s.vec_id, c.sub, c.c,
        |    sum((s.v - c.val) * (s.v - c.val)) AS dist
        |  FROM ss s JOIN cents${i - 1} c ON c.sub = s.sub AND c.sdim = s.sdim
        |  GROUP BY 1, 2, 3),
        |a$i AS (
        |  SELECT vec_id, sub, c FROM (
        |    SELECT vec_id, sub, c,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, c) AS rk
        |    FROM d$i) WHERE rk = 1),
        |n$i AS (
        |  SELECT a.sub, a.c, s.sdim,
        |    CAST(round(CAST(sum(s.v) AS DOUBLE) / count(*)) AS BIGINT) AS val
        |  FROM a$i a JOIN ss s ON s.vec_id = a.vec_id AND s.sub = a.sub
        |  GROUP BY 1, 2, 3),
        |cents$i AS (
        |  SELECT p.sub, p.c, p.sdim, coalesce(n.val, p.val) AS val
        |  FROM cents${i - 1} p
        |  LEFT JOIN n$i n ON n.sub = p.sub AND n.c = p.c AND n.sdim = p.sdim)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT vec_id, embedding FROM embeddings),
      |av AS MATERIALIZED (
      |  SELECT vec_id, CAST((ord - 1) // $dsub AS INTEGER) AS sub,
      |    CAST((ord - 1) % $dsub AS INTEGER) AS sdim,
      |    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS v
      |  FROM (SELECT vec_id, unnest(embedding) AS x,
      |          unnest(generate_series(1, len(embedding))) AS ord FROM raw)),
      |ss AS MATERIALIZED (
      |  SELECT * FROM av WHERE vec_id IN
      |    (SELECT vec_id FROM raw ORDER BY vec_id LIMIT $trainN)),
      |cents0 AS (
      |  SELECT s.sub, r.rk - 1 AS c, s.sdim, s.v AS val
      |  FROM ss s JOIN (
      |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rk
      |    FROM (SELECT vec_id FROM raw ORDER BY vec_id LIMIT $k)) r
      |  USING (vec_id)),
      |$roundCtes,
      |encd AS (
      |  SELECT a.vec_id, c.sub, c.c,
      |    sum((a.v - c.val) * (a.v - c.val)) AS dist
      |  FROM av a JOIN cents$iters c ON c.sub = a.sub AND c.sdim = a.sdim
      |  GROUP BY 1, 2, 3),
      |enc AS (
      |  SELECT vec_id, sub, c FROM (
      |    SELECT vec_id, sub, c,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, c) AS rk
      |    FROM encd) WHERE rk = 1),
      |tab AS (
      |  SELECT q.vec_id AS query_id, c.sub, c.c,
      |    CAST(sum(q.v * c.val) AS BIGINT) AS ip
      |  FROM av q JOIN cents$iters c ON c.sub = q.sub AND c.sdim = q.sdim
      |  WHERE q.vec_id < $nQueries GROUP BY 1, 2, 3),
      |score AS (
      |  SELECT t.query_id, e.vec_id AS neighbor_id,
      |    CAST(sum(t.ip) AS BIGINT) AS approx_ip
      |  FROM enc e JOIN tab t ON t.sub = e.sub AND t.c = e.c
      |  WHERE e.vec_id <> t.query_id GROUP BY 1, 2),
      |short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY approx_ip DESC, neighbor_id) AS ark
      |    FROM score) WHERE ark <= $keep),
      |rer AS (
      |  SELECT s.query_id, s.neighbor_id,
      |    CAST(sum(q.v * n.v) AS BIGINT) AS exact_ip
      |  FROM short s
      |  JOIN av q ON q.vec_id = s.query_id
      |  JOIN av n ON n.vec_id = s.neighbor_id
      |    AND n.sub = q.sub AND n.sdim = q.sdim
      |  GROUP BY 1, 2)
      |SELECT query_id, neighbor_id, rk, exact_ip FROM (
      |  SELECT query_id, neighbor_id, exact_ip,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY exact_ip DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM rer) WHERE rk <= $topK""".stripMargin
  }

  /** Brute-force cosine top-k in DuckDB — oracle for e_ann_topk AND for
    * e_ivf_topk at full probe (nProbe = nlist ⇒ IVF ≡ brute force).
    */
  private val annBruteSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS neighbor_id, embedding AS v FROM embeddings),
      |j AS (
      |  SELECT query_id, neighbor_id,
      |    ${cosSql("q", "v")} AS cosine
      |  FROM q, c WHERE query_id <> neighbor_id)
      |SELECT query_id, neighbor_id, rk, round(cosine, 4) AS cosine_r FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM j) WHERE rk <= 5""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("e_ann_topk", eAnnTopK, Some(annBruteSql)),
    QueryDef("e_quantize_stats", eQuantizeStats, Some(
      """WITH ex AS (
        |  SELECT CAST(ord - 1 AS BIGINT) AS dim, CAST(x AS DOUBLE) AS x
        |  FROM (SELECT unnest(embedding) AS x,
        |               unnest(generate_series(1, len(embedding))) AS ord
        |        FROM embeddings)),
        |stats AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY 1),
        |q AS (
        |  SELECT ex.dim, x, lo, hi,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE CAST(round((x - lo) / (hi - lo) * 255) AS INTEGER) END AS q
        |  FROM ex JOIN stats USING (dim)),
        |d AS (
        |  SELECT dim, q,
        |    CAST(round(abs(x - (lo + q * (hi - lo) / 255)) * 1e6) AS BIGINT) AS err
        |  FROM q)
        |SELECT dim, count(*) AS n,
        |  CAST(sum(err) AS BIGINT) AS sum_abs_err_micro,
        |  min(q) AS qmin, max(q) AS qmax
        |FROM d GROUP BY 1""".stripMargin)),
    QueryDef("e_norm_stats", eNormStats, Some(
      """SELECT label, count(*) AS n,
        |  round(sum(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 3) AS sum_norm2
        |FROM embeddings GROUP BY label""".stripMargin)),
    QueryDef("e_cosine_dedup", eCosineDedup, Some(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |c AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    ${cosSql("l.embedding", "r.embedding")} AS cosine
        |  FROM e l JOIN e r ON l.vec_id <> r.vec_id)
        |SELECT a AS vec_id, b AS nearest, round(cosine, 4) AS cosine_r,
        |  cosine >= 0.95 AS is_dup
        |FROM (SELECT *, row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b) AS rk FROM c)
        |WHERE rk = 1""".stripMargin)),
    // full-probe IVF must reproduce brute force exactly (losslessness proof)
    QueryDef("e_ivf_topk", eIvfTopK, Some(annBruteSql)),
    // partial-probe IVF replayed stage by stage (probe-path proof)
    QueryDef("e_ivf_probe", eIvfProbe, Some(ivfProbeSql)),
    // Lloyd-refined IVF fully replayed: integer micro-unit accumulators
    // make all 5 k-means rounds engine-exact
    QueryDef("e_ivf_kmeans", eIvfKmeans, Some(ivfKmeansSql)),
    QueryDef("e_pq_topk", ePqTopK, None),
    QueryDef("e_pq_adc", ePqAdc, Some(pqAdcSql)),
    QueryDef("e_lsh_dedup", eLshDedup, Some {
      // replay the banded sign-LSH: 8 bands × 8 sign bits, hub-star on
      // buckets above 64 members, exact cosine + top-1 per vector
      val bandSelects = (0 until 8).map { b =>
        val bucket = (0 until 8)
          .map(i => s"(CASE WHEN embedding[${b * 8 + i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
          .mkString(" + ")
        s"SELECT vec_id, $b AS band, $bucket AS bucket FROM e"
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |bands AS (
        |$bandSelects),
        |sizes AS (SELECT band, bucket, count(*) AS n, min(vec_id) AS hub
        |  FROM bands GROUP BY 1, 2),
        |bs AS (SELECT bands.vec_id, bands.band, bands.bucket, sizes.n, sizes.hub
        |  FROM bands JOIN sizes USING (band, bucket)),
        |pairs AS (SELECT DISTINCT a, b FROM (
        |  SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM bs x JOIN bs y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.vec_id < y.vec_id
        |  WHERE x.n <= 64 AND y.n <= 64
        |  UNION ALL
        |  SELECT hub AS a, vec_id AS b FROM bs WHERE n > 64 AND vec_id <> hub)),
        |sym AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
        |c AS (SELECT sym.a, sym.b,
        |    ${cosSql("ea.embedding", "eb.embedding")} AS cosine
        |  FROM sym JOIN e ea ON ea.vec_id = sym.a JOIN e eb ON eb.vec_id = sym.b)
        |SELECT a AS vec_id, b AS nearest, round(cosine, 4) AS cosine_r,
        |  cosine >= 0.95 AS is_dup
        |FROM (SELECT *, row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b) AS rk FROM c)
        |WHERE rk = 1""".stripMargin
    }),
    QueryDef("e_semdedup", eSemDedup, Some(semDedupSql)),
    QueryDef("e_lsh_buckets", eLshBuckets, Some(
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(ord - 1 AS BIGINT) AS i,
        |    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS micro
        |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
        |               unnest(generate_series(1, len(embedding))) AS ord
        |        FROM embeddings)),
        |coef AS (
        |  SELECT p, i,
        |    CAST((strpos('0123456789abcdef', substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 2, 1)) - 1)
        |       - 128 AS BIGINT) AS c
        |  FROM (SELECT unnest(generate_series(0, 15)) AS p),
        |       (SELECT DISTINCT i FROM ex)),
        |s AS (
        |  SELECT vec_id, label, p, sum(micro * c) AS s
        |  FROM ex JOIN coef USING (i) GROUP BY 1, 2, 3)
        |SELECT vec_id,
        |  CAST(sum(CASE WHEN s > 0 THEN 1 << CAST(p AS INTEGER) ELSE 0 END) AS INTEGER) AS bucket,
        |  label
        |FROM s GROUP BY vec_id, label""".stripMargin))
  )
}
