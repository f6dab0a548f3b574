package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate nearest neighbour over embedding columns.
  *
  * Brute-force cosine top-k is the baseline (graft.queries.EmbeddingQueries.eAnnTopK); this is
  * the scale path: IVF — deterministic coarse quantizer (first `nlist`
  * vectors by id serve as centroids), inverted lists per centroid, probe
  * the `nProbe` nearest lists per query. Candidate set shrinks by
  * ~nProbe/nlist versus brute force; the exact-cosine rerank stays.
  */
object Similarity {

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
  def cosine(a: Array[Float], b: Array[Float]): Double =
    dot(a, b) / (norm(a) * norm(b))

  /** Max-cosine centroid of `emb` — THE argmax every assignment path
    * shares ([[assign]], [[semDedup]], the streaming twin): strict `>`
    * means the FIRST (lowest) index wins ties, which is exactly the
    * `ORDER BY cos DESC, listId` rk=1 rule the DuckDB oracles replay.
    * One definition, so batch, stream and oracle can never drift.
    * Returns (listId, cosine-to-it).
    */
  def nearestCentroid(emb: Array[Float],
      cents: Array[(Long, Array[Float])]): (Int, Double) = {
    var best = 0; var bestCos = Double.MinValue; var i = 0
    while (i < cents.length) {
      val cs = cosine(emb, cents(i)._2)
      if (cs > bestCos) { bestCos = cs; best = i }
      i += 1
    }
    (best, bestCos)
  }

  /** Scalable embedding near-dup dedup: banded sign-LSH candidates +
    * exact-cosine rerank — the 100 TB path that replaces the all-pairs
    * crossJoin (which stays only as the small-n oracle baseline).
    *
    * Bands: `bands` blocks of `dimsPerBand` consecutive dimensions; a
    * block's bucket is its sign bit-pattern (axis-aligned hyperplane LSH —
    * deterministic and SQL-expressible, so a DuckDB oracle can replay it).
    * Vectors sharing any (band, bucket) are candidates. Hot buckets above
    * `maxBucket` are linearized hub-star (every member pairs with the
    * bucket's min id) — same strategy as the MinHash/SimHash text paths,
    * so a mega-cluster of near-identical embeddings still links through
    * its hub instead of exploding quadratically or being dropped.
    *
    * Output: per vector with ≥1 candidate, its highest-cosine candidate
    * (vec_id, nearest, cosine_r, is_dup = cosine ≥ tau).
    *
    * Shuffle shape: one shuffle on (band, bucket) for the candidate
    * self-join, two fileId-keyed joins to fetch embeddings for rerank —
    * no crossJoin anywhere.
    */
  def lshDedup(embeddings: DataFrame, bands: Int = 8, dimsPerBand: Int = 8,
      maxBucket: Int = 64, tau: Double = 0.95): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"))
    def bucketExpr(b: Int) = (0 until dimsPerBand).map { i =>
      when(element_at(col("embedding"), b * dimsPerBand + i + 1) > 0f,
        lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"), bucketExpr(b).as("bucket")))
    // Narrow (vec_id, band, bucket) rows materialized once: sizes, the
    // cold self-join (both sides) and the hot-star pass all reuse them —
    // without this the plan re-scans the embeddings table ~14× (the
    // pairs union + its swapped mirror double the whole subtree).
    val banded = e
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .localCheckpoint(true)
    val sizes = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("hub"))
    val withSz = banded.join(sizes, Seq("band", "bucket"))
    val cold = withSz.filter(col("n") <= maxBucket)
      .select(col("band"), col("bucket"), col("vec_id"))
    val coldPairs = cold.as("x").join(cold.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
    val hotPairs = withSz.filter(col("n") > maxBucket && col("vec_id") =!= col("hub"))
      .select(col("hub").as("a"), col("vec_id").as("b"))
    // materialize the deduped pair set so the symmetric mirror below reads
    // it instead of recomputing candidate generation twice
    val pairs = coldPairs.union(hotPairs).distinct().localCheckpoint(true)
    val sym = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    // nearest-candidate pick per vector: top_k_by(k=1) over the lossless
    // sortable-bits cosine — one map-side-combinable ObjectHashAggregate
    // (ties → smallest b, same total order as the row_number window it
    // replaces; SortableBits.invert returns the bit-exact double back)
    sym
      .join(e.select(col("vec_id").as("a"), col("embedding").as("q")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("v")), Seq("b"))
      .withColumn("cosine", graft.functions.CosineSim(col("q"), col("v")))
      .groupBy(col("a"))
      .agg(graft.functions.TopKBy(
        graft.functions.SortableBits(col("cosine")), col("b"), 1).as("topk"))
      .select(col("a").as("vec_id"), col("topk")(0).getField("id").as("nearest"),
        graft.functions.SortableBits.invert(col("topk")(0).getField("score"))
          .as("cos"))
      .select(col("vec_id"), col("nearest"),
        round(col("cos"), 4).as("cosine_r"),
        (col("cos") >= tau).as("is_dup"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means-cluster the embedding space, then resolve near-duplicate
    * pairs INSIDE each cluster only — the pruning that makes
    * embedding-level dedup tractable at corpus scale without an
    * all-pairs join.
    *
    * Stages:
    *  1. integer-Lloyd k-means ([[kmeansCentroids]] — micro-unit
    *     accumulators, so centroids are engine-exact and the whole run is
    *     DuckDB-replayable); centroids broadcast (nlist×dim floats);
    *  2. map-only assignment; the argmax cosine IS the vector's
    *     centroid similarity, so it rides along for free;
    *  3. ONE listId-keyed self-join emits intra-cluster pairs with
    *     cosine ≥ tau; per qualifying pair the member CLOSER to the
    *     centroid is dropped (the paper's keep-the-rim rule — cluster
    *     cores are semantically redundant, rims carry the diversity);
    *     ties (identical csim, e.g. exact copies) drop the higher id.
    *
    * Output: one row per vector — (vec_id, list_id, centroid_sim_r,
    * kept). A vector is dropped iff it loses ANY duel, so the kept set
    * contains no intra-cluster pair at ≥ tau (asserted in
    * SimilaritySpec).
    *
    * Scale: nlist grows with the corpus (the paper runs k ∝ N keeping
    * expected cluster size c constant), so the pair stage is Σ c_i² ≈
    * N·c — LINEAR in N for fixed c; the only unbounded shuffle is the
    * listId-keyed join of narrow (id, vec, csim) rows. Skewed mega-
    * clusters (a near-dup-heavy corpus — the very workload a semantic
    * dedup targets) are CAPPED since r6: lists above `maxList` members
    * switch from all-pairs to hub-star duels against the list's rim hub
    * (min (csim, id) member — exactly the member the uncapped semantics
    * keeps in a fully-connected ≥tau cluster), the [[lshDedup]]
    * discipline, so the worst case is O(n) duels per list; the Lloyd
    * refinement additionally balances list sizes (SimilaritySpec's
    * skewed-corpus gate). `maxList` defaults far above every shipped
    * fixture/oracle operating size, so capped and uncapped semantics
    * coincide everywhere the DuckDB oracle replays the all-pairs join
    * (the d_dup_span_pairs cap precedent).
    */
  def semDedup(embeddings: DataFrame, nlist: Int = 16, iters: Int = 5,
      tau: Double = 0.95, maxList: Int = 100000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = kmeansCentroids(embeddings, nlist, iters)
    val bc = spark.sparkContext.broadcast(cents)
    val asg = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, emb) =>
        val (best, bestCos) = nearestCentroid(emb, bc.value)
        (id, emb, best, bestCos)
      }
      .toDF("vec_id", "embedding", "listId", "csim")
      // materialized once: both sides of the pair join and the final
      // projection read it (and the k-means lineage is truncated). LAZY
      // (r6): the hot-list size scan below is the first action and scans
      // every partition once, so it materializes the blocks in ONE job.
      .localCheckpoint(eager = false)
    // HOT-LIST CAP (r6, the lshDedup hub-star discipline — round-5
    // verdict: the all-pairs duel was the repo's one uncapped fan-out):
    // a list above maxList members duels every member against the list's
    // RIM HUB — its min (csim, vec_id) member — instead of all pairs. In
    // the uncapped semantics a fully-connected ≥tau cluster keeps exactly
    // that member (every other member loses some duel to a
    // closer-to-centroid ordering), so the hub-star arm reproduces the
    // keep-the-rim outcome with O(n) duels and O(1) extra state where a
    // near-dup-heavy corpus — the very workload a semantic dedup targets
    // — previously went quadratic. List sizes are an nlist-row aggregate
    // over the checkpointed assignment: collected to the DRIVER (the
    // centroid-pull pattern) so the no-hot-list case — every shipped
    // fixture — keeps the round-5 plan byte-for-byte with zero extra
    // joins, and hot lists gate with literal isin predicates.
    val victimOf = when(col("ca") > col("cb"), col("a"))
      .when(col("cb") > col("ca"), col("b"))
      .otherwise(greatest(col("a"), col("b"))).as("victim")
    def allPairVictims(part: DataFrame): DataFrame = {
      val lhs = part.select(col("listId"), col("vec_id").as("a"),
        col("embedding").as("ea"), col("csim").as("ca"))
      val rhs = part.select(col("listId"), col("vec_id").as("b"),
        col("embedding").as("eb"), col("csim").as("cb"))
      lhs.join(rhs, Seq("listId"))
        .filter(col("a") < col("b"))
        .filter(graft.functions.CosineSim(col("ea"), col("eb")) >= tau)
        .select(victimOf)
    }
    val hotLists = asg.groupBy(col("listId")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxList)
      .select(col("listId")).as[Int].collect().toSeq
    // the assignment map ran inside the checkpoint materialization above,
    // so the centroid broadcast is dead — release it now (the pqTopK
    // pattern) instead of leaving one undestroyed broadcast per call
    bc.destroy()
    val victims0 =
      if (hotLists.isEmpty) allPairVictims(asg)
      else {
        val coldVictims = allPairVictims(
          asg.filter(!col("listId").isin(hotLists: _*)))
        val hot = asg.filter(col("listId").isin(hotLists: _*))
        val hubs = hot.groupBy(col("listId"))
          .agg(min(struct(col("csim"), col("vec_id"))).as("h"))
          .select(col("listId"), col("h.vec_id").as("hubId"))
        val hubRows = hot.join(broadcast(hubs), Seq("listId"))
          .filter(col("vec_id") === col("hubId"))
          .select(col("listId"), col("vec_id").as("a"),
            col("embedding").as("ea"), col("csim").as("ca"))
        val hotVictims = broadcast(hubRows)
          .join(hot.select(col("listId"), col("vec_id").as("b"),
            col("embedding").as("eb"), col("csim").as("cb")), Seq("listId"))
          .filter(col("a") =!= col("b"))
          .filter(graft.functions.CosineSim(col("ea"), col("eb")) >= tau)
          .select(victimOf)
        coldVictims.union(hotVictims)
      }
    val victims = victims0.distinct()
    asg.join(victims, col("vec_id") === col("victim"), "left_outer")
      .select(col("vec_id"), col("listId").cast("long").as("list_id"),
        round(col("csim"), 4).as("centroid_sim_r"),
        col("victim").isNull.as("kept"))
  }

  /** Int8 scalar quantization — the standard 4× compression step before
    * ANN at scale (100 TB of float32 embeddings → 25 TB of codes): per
    * dimension, linear-map [min, max] onto 0..255. Returns
    * (vec_id, label, codes array<int>) plus the per-dim (lo, hi) table
    * needed to dequantize. The dim-stats side is FIXED-SIZE (one row per
    * dimension, independent of corpus size) so broadcasting it is the
    * scale-correct plan.
    */
  def quantize(embeddings: DataFrame): (DataFrame, DataFrame) = {
    val ex = embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim").cast("long").as("dim"),
        col("x").cast("double").as("x"))
    val stats = ex.groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val codes = ex.join(broadcast(stats), Seq("dim"))
      .withColumn("q",
        when(col("hi") === col("lo"), lit(0)).otherwise(
          round((col("x") - col("lo")) / (col("hi") - col("lo")) * 255)
            .cast("int")))
      .groupBy(col("vec_id"), col("label"))
      .agg(sort_array(collect_list(struct(col("dim"), col("q"))))
        .getField("q").as("codes"))
    (codes, stats)
  }

  /** Dequantized embeddings (array<float> reconstructed from the int8
    * codes) — drop-in for any cosine path; recall vs exact is gated in
    * SimilaritySpec.
    */
  def dequantized(embeddings: DataFrame): DataFrame = {
    val (codes, stats) = quantize(embeddings)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dims = stats.orderBy(col("dim")).as[(Long, Double, Double)].collect()
    val lo = dims.map(_._2)
    val span = dims.map(d => (d._3 - d._2) / 255.0)
    val bcLo = spark.sparkContext.broadcast(lo)
    val bcSpan = spark.sparkContext.broadcast(span)
    codes.select(col("vec_id"), col("label"), col("codes"))
      .as[(Long, Int, Seq[Int])]
      .map { case (id, label, cs) =>
        val l = bcLo.value; val s = bcSpan.value
        val out = new Array[Float](cs.length)
        var i = 0
        while (i < out.length) {
          out(i) = (l(i) + cs(i) * s(i)).toFloat
          i += 1
        }
        (id, out, label)
      }
      .toDF("vec_id", "embedding", "label")
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) — the compression step past int8 for a
  // 100 TB embedding store: d float32 dims → m byte codes (32× at
  // d=64, m=8). Codebooks are trained driver-side on a BOUNDED,
  // deterministic sample (the trainN lowest vec_ids) exactly like
  // production ANN libraries train on a corpus sample — training cost
  // is independent of corpus size; encode and scan are map-only.
  // ------------------------------------------------------------------

  private def l2(a: Array[Float], off: Int, c: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) {
      val d = a(off + i) - c(i); s += d * d; i += 1
    }
    s
  }

  /** Unit-normalized copy (cosine becomes inner product downstream). */
  def normalized(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) =>
        val n = norm(e)
        val out = new Array[Float](e.length)
        var i = 0
        while (i < e.length) { out(i) = if (n == 0) 0f else (e(i) / n).toFloat; i += 1 }
        (id, out)
      }
      .toDF("vec_id", "embedding")
  }

  /** Per-subspace k-means codebooks over the trainN lowest vec_ids'
    * UNIT-NORMALIZED vectors (deterministic seeds = first k sample
    * vectors; fixed Lloyd iterations; empty cells keep their centroid).
    * Returns [m][k][d/m].
    */
  def pqTrain(embeddings: DataFrame, m: Int, k: Int, trainN: Int = 1024,
      iters: Int = 8): Array[Array[Array[Float]]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sample = normalized(embeddings)
      .orderBy(col("vec_id")).limit(trainN)
      .as[(Long, Array[Float])].collect().map(_._2)
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val d = sample.head.length
    require(d % m == 0, s"pqTrain: $d dims not divisible into $m subspaces")
    val dsub = d / m
    Array.tabulate(m) { j =>
      val off = j * dsub
      var cents = Array.tabulate(math.min(k, sample.length)) { c =>
        java.util.Arrays.copyOfRange(sample(c), off, off + dsub)
      }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length, dsub)(0.0)
        val counts = new Array[Long](cents.length)
        sample.foreach { v =>
          var best = 0; var bd = Double.MaxValue; var c = 0
          while (c < cents.length) {
            val dist = l2(v, off, cents(c))
            if (dist < bd) { bd = dist; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < dsub) { sums(best)(i) += v(off + i); i += 1 }
        }
        cents = Array.tabulate(cents.length) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(dsub)(i => (sums(c)(i) / counts(c)).toFloat)
        }
        it += 1
      }
      cents
    }
  }

  /** Map-only PQ encoding of the normalized corpus: per vector, per
    * subspace, the nearest codebook entry (L2). d*4 bytes → m codes.
    */
  def pqEncode(embeddings: DataFrame,
      books: Array[Array[Array[Float]]]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    normalized(embeddings).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val bks = bc.value
        val m = bks.length
        it.map { case (id, v) =>
          val dsub = v.length / m
          val codes = new Array[Int](m)
          var j = 0
          while (j < m) {
            val cs = bks(j)
            var best = 0; var bd = Double.MaxValue; var c = 0
            while (c < cs.length) {
              val dist = l2(v, j * dsub, cs(c))
              if (dist < bd) { bd = dist; best = c }
              c += 1
            }
            codes(j) = best
            j += 1
          }
          (id, codes)
        }
      }
      .toDF("vec_id", "codes")
  }

  /** HALF_UP micro-unit quantization — BigDecimal on the shortest decimal
    * repr of the double so Spark-side values equal `CAST(round(CAST(x AS
    * DOUBLE) * 1e6) AS BIGINT)` in DuckDB (the e_lsh_buckets parity
    * pattern).
    */
  private def microOf(x: Float): Long =
    java.math.BigDecimal.valueOf(x.toDouble * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** ENGINE-EXACT product quantization: the whole train → encode → ADC
    * top-k path in integer micro-units, so a SQL engine replays it
    * value-identically (the twin that makes the PQ machinery
    * hash-oracle-able, like e_ivf_kmeans did for IVF's Lloyd rounds):
    *
    *  - vectors quantize to round(x·1e6) int64 per dim ([[microOf]]);
    *  - per-subspace Lloyd runs on the `trainN` lowest vec_ids with
    *    integer L2 distances (ties → lowest centroid index) and
    *    HALF_UP-rounded integer centroid updates — no float accumulation
    *    anywhere, so the driver loop and an unrolled SQL replay agree
    *    bit for bit;
    *  - map-only integer encode; integer ADC tables (q·centroid int64
    *    inner products — |v| ≤ ~2e6 micro-units keeps every sum far from
    *    int64 range); per-partition bounded top-(refine·topK) heaps
    *    ordered (ip desc, id asc) so tie survivors match SQL's
    *    deterministic row_number order;
    *  - the shortlist reranks by the EXACT integer inner product of the
    *    micro vectors (the rerank step [[pqTopK]] does in float cosine,
    *    here SQL-replayable like everything else) — recall@5 ≈ 0.9 vs
    *    exact at the default config, gated in SimilaritySpec.
    *
    * Like [[pqTopK]], the query set is processed in BOUNDED BATCHES of
    * `queryBatch` (one broadcast + one code-scan pass each, the batch's
    * broadcast destroyed once its candidates materialize), so no query
    * set inflates a single pass to O(corpus × all-queries) work or an
    * unbounded broadcast; per-query heaps make the result batch-size
    * invariant (gated in SimilaritySpec).
    *
    * Output (query_id, neighbor_id, rk, exact_ip).
    */
  def pqAdcTopK(embeddings: DataFrame, queryMaxId: Long, m: Int = 8,
      k: Int = 64, trainN: Int = 500, iters: Int = 3,
      topK: Int = 5, refine: Int = 8, queryBatch: Int = 128): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    require(queryBatch > 0, "pqAdcTopK: queryBatch must be positive")
    val micro = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, e.map(microOf)) }
      .toDF("vec_id", "v")
    val sample = micro.orderBy(col("vec_id")).limit(trainN)
      .as[(Long, Array[Long])].collect().map(_._2)
    require(sample.nonEmpty, "pqAdcTopK: empty corpus")
    val d = sample.head.length
    require(d % m == 0, s"pqAdcTopK: $d dims not divisible into $m subspaces")
    val dsub = d / m
    // integer Lloyd per subspace: books(j)(c) is an int64 micro-unit
    // centroid; every arithmetic step exact
    val books: Array[Array[Array[Long]]] = Array.tabulate(m) { j =>
      val off = j * dsub
      var cents = Array.tabulate(math.min(k, sample.length)) { c =>
        java.util.Arrays.copyOfRange(sample(c), off, off + dsub)
      }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length, dsub)(0L)
        val counts = new Array[Long](cents.length)
        sample.foreach { v =>
          var best = 0; var bd = Long.MaxValue; var c = 0
          while (c < cents.length) {
            var s = 0L; var i = 0
            while (i < dsub) {
              val df = v(off + i) - cents(c)(i); s += df * df; i += 1
            }
            if (s < bd) { bd = s; best = c } // strict < keeps lowest index
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < dsub) { sums(best)(i) += v(off + i); i += 1 }
        }
        cents = Array.tabulate(cents.length) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(dsub) { i =>
            // HALF_UP(sum/n) — sums < 2^53 so the double division is
            // exact-input IEEE, identical to SQL round(sum/count)
            java.math.BigDecimal.valueOf(sums(c)(i).toDouble / counts(c))
              .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
          }
        }
        it += 1
      }
      cents
    }
    val bcB = spark.sparkContext.broadcast(books)
    // map-only integer encode — persisted: one code-scan pass per batch
    val codes = micro.as[(Long, Array[Long])]
      .mapPartitions { it =>
        val bks = bcB.value
        it.map { case (id, v) =>
          val codes = new Array[Int](bks.length)
          var j = 0
          while (j < bks.length) {
            val cs = bks(j); val off = j * (v.length / bks.length)
            var best = 0; var bd = Long.MaxValue; var c = 0
            while (c < cs.length) {
              var s = 0L; var i = 0
              while (i < cs(c).length) {
                val df = v(off + i) - cs(c)(i); s += df * df; i += 1
              }
              if (s < bd) { bd = s; best = c }
              c += 1
            }
            codes(j) = best
            j += 1
          }
          (id, codes)
        }
      }
      .persist()
    val queries = micro.filter(col("vec_id") < queryMaxId)
      .as[(Long, Array[Long])].collect()
    val keep = refine * topK
    // one code-scan pass per bounded query batch: each batch builds its
    // m×k integer ADC tables (ip[j][c] = <q_subspace_j, books[j][c]>),
    // broadcasts them, scans the persisted codes with worst-first heaps
    // (evict the lowest ip, ties evict the HIGHEST id, so survivors are
    // exactly SQL's (ip DESC, id ASC) top-`keep`), then materializes the
    // small batch result and destroys the batch's broadcast immediately
    val candParts = queries.grouped(queryBatch).map { qbatch =>
      val tables = qbatch.map { case (qid, q) =>
        (qid, Array.tabulate(m) { j =>
          books(j).map { cent =>
            var s = 0L; var i = 0
            while (i < cent.length) { s += q(j * dsub + i) * cent(i); i += 1 }
            s
          }
        })
      }
      val bcT = spark.sparkContext.broadcast(tables)
      val batchCands = codes
        .mapPartitions { it =>
          val ts = bcT.value
          val heaps = ts.map { case (qid, _) =>
            qid -> new scala.collection.mutable.PriorityQueue[(Long, Long)]()(
              Ordering.by[(Long, Long), (Long, Long)] { case (s, id) => (-s, id) })
          }.toMap
          it.foreach { case (id, cs) =>
            ts.foreach { case (qid, tab) =>
              if (id != qid) {
                var s = 0L; var j = 0
                while (j < cs.length) { s += tab(j)(cs(j)); j += 1 }
                val h = heaps(qid)
                if (h.size < keep) h.enqueue((s, id))
                else {
                  val (ws, wid) = h.head
                  if (s > ws || (s == ws && id < wid)) {
                    h.dequeue(); h.enqueue((s, id))
                  }
                }
              }
            }
          }
          heaps.iterator.flatMap { case (qid, h) =>
            h.iterator.map { case (s, id) => (qid, id, s) }
          }
        }
        .toDF("query_id", "neighbor_id", "approx_ip")
        .localCheckpoint(true)
      bcT.destroy()
      batchCands
    }.toSeq
    val cands =
      if (candParts.isEmpty)
        Seq.empty[(Long, Long, Long)]
          .toDF("query_id", "neighbor_id", "approx_ip")
      else candParts.reduce(_.union(_))
    // global top-`keep` per query via the map-side-combinable top_k_by
    // heap (ties: ip DESC, id ASC — the window's total order): per-query
    // candidate volume is keep × partitions, which grows with cluster
    // width, so a per-query window sort would widen with the cluster
    // while the heap always forwards ≤ keep rows per partition
    val shortlist = cands
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKBy(
        col("approx_ip"), col("neighbor_id"), keep).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"))
    // exact INTEGER inner-product rerank of the shortlist — the same
    // shape as pqTopK's cosine rerank, but engine-exact
    val rer = shortlist
      .join(micro.select(col("vec_id").as("query_id"), col("v").as("qv")),
        Seq("query_id"))
      .join(micro.select(col("vec_id").as("neighbor_id"), col("v").as("nv")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("nv"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (q, n, qv, nv) =>
        var s = 0L; var i = 0
        while (i < qv.length) { s += qv(i) * nv(i); i += 1 }
        (q, n, s)
      }
      .toDF("query_id", "neighbor_id", "exact_ip")
    // final top-k rank: same heap (input is ≤ keep rows per query, but
    // uniform window-free selection keeps the whole PQ path sort-free)
    val out = rer
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKBy(
        col("exact_ip"), col("neighbor_id"), topK).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rk"),
        col("col.score").as("exact_ip"))
      .localCheckpoint(true)
    bcB.destroy(); codes.unpersist()
    out
  }

  /** PQ top-k with asymmetric distance computation + exact rerank: per
    * query, subspace inner-product lookup tables (m×k floats); the code
    * scan costs m table adds per candidate instead of d multiplies;
    * per-partition bounded top-(refine·k) heaps keep the shuffle at
    * O(queries · refine · k · partitions); the survivors are reranked
    * with exact cosine. The query set is processed in BOUNDED BATCHES of
    * `queryBatch` (each its own broadcast + code-scan pass), so no query
    * set can inflate a single pass to O(corpus × all-queries) work or an
    * unbounded broadcast — the result is batch-size invariant (gated in
    * SimilaritySpec). Output schema matches the other ANN queries:
    * (query_id, neighbor_id, rk, cosine_r).
    */
  def pqTopK(embeddings: DataFrame, queryMaxId: Long, m: Int = 8,
      k: Int = 16, topK: Int = 5, refine: Int = 4,
      queryBatch: Int = 128): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    require(queryBatch > 0, s"pqTopK: queryBatch must be positive")
    val books = pqTrain(embeddings, m, k)
    val codes = pqEncode(embeddings, books).persist()
    val queries = normalized(embeddings)
      .filter(col("vec_id") < queryMaxId)
      .as[(Long, Array[Float])].collect()
    val keep = refine * topK
    // one scan pass per query batch: per-query ADC tables
    // ip[j][c] = <q_subspace_j, codebook[j][c]>, broadcast per batch
    val candParts = queries.grouped(queryBatch).map { qbatch =>
      val tables = qbatch.map { case (qid, q) =>
        val dsub = q.length / m
        (qid, Array.tabulate(m) { j =>
          books(j).map { cent =>
            var s = 0.0; var i = 0
            while (i < cent.length) { s += q(j * dsub + i) * cent(i); i += 1 }
            s
          }
        })
      }
      val bcT = spark.sparkContext.broadcast(tables)
      val batchCands = codes.as[(Long, Array[Int])]
        .mapPartitions { it =>
          val ts = bcT.value
          // per-query bounded top-`keep` within the partition
          val heaps = ts.map { case (qid, _) =>
            qid -> new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
              Ordering.by[(Double, Long), Double](_._1).reverse)
          }.toMap
          it.foreach { case (id, cs) =>
            ts.foreach { case (qid, tab) =>
              if (id != qid) {
                var s = 0.0; var j = 0
                while (j < cs.length) { s += tab(j)(cs(j)); j += 1 }
                val h = heaps(qid)
                if (h.size < keep) h.enqueue((s, id))
                else if (s > h.head._1) { h.dequeue(); h.enqueue((s, id)) }
              }
            }
          }
          heaps.iterator.flatMap { case (qid, h) =>
            h.iterator.map { case (s, id) => (qid, id, s) }
          }
        }
        .toDF("query_id", "neighbor_id", "approx_ip")
        // materialize the (small: batch × keep × partitions) batch result
        // so the batch's broadcast can be destroyed NOW instead of riding
        // the union plan until ContextCleaner gets to it — a 100k-query
        // run would otherwise hold hundreds of live broadcasts
        .localCheckpoint(true)
      bcT.destroy()
      batchCands
    }.toSeq
    val cands =
      if (candParts.isEmpty)
        Seq.empty[(Long, Long, Double)]
          .toDF("query_id", "neighbor_id", "approx_ip")
      else candParts.reduce(_.union(_))
    // global top-`keep` per query via the map-side-combinable top_k_by
    // heap over the lossless sortable-bits double encoding (ties:
    // approx_ip DESC, id ASC — the window's exact total order): per-query
    // candidate volume is keep × partitions, which grows with cluster
    // width, so a per-query window sort would widen with the cluster
    // while the heap always forwards ≤ keep rows per partition
    val shortlist = cands
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKBy(
        graft.functions.SortableBits(col("approx_ip")),
        col("neighbor_id"), keep).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"))
    // exact-cosine rerank of the shortlist (≤ keep rows per query; same
    // window-free heap for uniformity)
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val out = shortlist
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("q")),
        Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("v")),
        Seq("neighbor_id"))
      .withColumn("s", graft.functions.SortableBits(
        graft.functions.CosineSim(col("q"), col("v"))))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKBy(col("s"), col("neighbor_id"), topK).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rk"),
        graft.functions.SortableBits.invert(col("col.score")).as("cos"))
      .select(col("query_id"), col("neighbor_id"), col("rk"),
        round(col("cos"), 4).as("cosine_r"))
      .localCheckpoint(true)
    codes.unpersist()
    out
  }

  /** Deterministic centroid seeds: the nlist lowest vec_ids. */
  def centroids(embeddings: DataFrame, nlist: Int): Array[(Long, Array[Float])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .orderBy(col("vec_id")).limit(nlist).collect()
  }

  /** Lloyd-refined IVF centroids: seeds from [[centroids]], then `iters`
    * rounds of (assign to max-cosine centroid → per-list mean). Each round
    * is one broadcast-assign map plus ONE combinable aggregation of
    * nlist×dim partial sums (posexplode → groupBy(list, dim).sum) — no
    * vector ever collects to the driver except the nlist×dim result, so
    * the round cost is a scan regardless of corpus size. Empty lists keep
    * their previous centroid (deterministic; no resampling).
    *
    * The per-dimension accumulator is INTEGER MICRO-UNITS
    * (round(x·1e6) summed as bigint, the e_lsh_buckets trick): an
    * associative integer sum has no partition-order float drift, so the
    * refined centroids — and therefore the whole refine→assign→probe
    * path — are exactly reproducible across engines (the e_ivf_kmeans
    * DuckDB oracle replays all rounds). The 1e-6 quantization is far
    * below any embedding's noise floor; the mean is then one
    * deterministic double division per (list, dim).
    */
  def kmeansCentroids(embeddings: DataFrame, nlist: Int,
      iters: Int = 5): Array[(Long, Array[Float])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    var cents = centroids(embeddings, nlist)
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    var it = 0
    while (it < iters && dim > 0) {
      val stats = assign(embeddings, cents)
        .select(col("listId"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("listId"), col("dim"))
        .agg(sum(round(col("x").cast("double") * 1e6).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .as[(Int, Int, Long, Long)]
        .collect()
      val next = cents.map(_._2.clone())
      stats.groupBy(_._1).foreach { case (listId, rows) =>
        val v = new Array[Float](dim)
        rows.foreach { case (_, d, s, n) =>
          v(d) = (s.toDouble / 1e6 / n).toFloat
        }
        next(listId) = v
      }
      cents = cents.zip(next).map { case ((id, _), v) => (id, v) }
      it += 1
    }
    cents
  }

  /** Inverted-list assignment: each vector to its max-cosine centroid. */
  def assign(embeddings: DataFrame, cents: Array[(Long, Array[Float])]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    embeddings.select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)]
      .map { case (id, emb, label) =>
        (id, emb, label, nearestCentroid(emb, bc.value)._1)
      }
      .toDF("vec_id", "embedding", "label", "listId")
  }

  /** IVF top-k: probe the nProbe nearest lists per query, exact-cosine
    * rerank inside the probed candidates. One shuffle on listId.
    *
    * kmeansIters = 0 keeps raw seed centroids: on a structure-less
    * (uniform) corpus a finer data-point partition probes marginally
    * better (measured 0.85 vs 0.81 recall@5 at nProbe 4/16 on the test
    * embeddings), while on clustered/skewed corpora Lloyd refinement is
    * what keeps lists balanced — see SimilaritySpec's skewed-corpus test.
    */
  def ivfTopK(embeddings: DataFrame, queryMaxId: Long, nlist: Int,
      nProbe: Int, k: Int, kmeansIters: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = if (kmeansIters > 0) kmeansCentroids(embeddings, nlist, kmeansIters)
      else centroids(embeddings, nlist)
    // eager: the probe queries and the join's list side both read it and
    // run as concurrent stages — a lazy cache would let each build the
    // same blocks
    val assigned = assign(embeddings, cents).localCheckpoint()
    val bc = spark.sparkContext.broadcast(cents)
    val queries = assigned.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, q) =>
        val c = bc.value
        c.indices.map(i => (i, cosine(q, c(i)._2)))
          .sortBy(x => (-x._2, x._1)).take(nProbe)
          .iterator.map { case (listId, _) => (qid, q, listId) }
      }
      .toDF("query_id", "q", "listId")
    // top-k per query via the map-side-combinable top_k_by heap over the
    // lossless sortable-bits cosine (ties: cos DESC, id ASC — the former
    // window's exact total order): each query's probed-candidate volume
    // is (nProbe/nlist)·corpus — unbounded at scale — so a per-query
    // window sort would funnel it through one task, while the heap
    // forwards ≤ k rows per (partition, query)
    val out = queries
      .join(assigned.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("v"), col("listId")), Seq("listId"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("s", graft.functions.SortableBits(
        graft.functions.CosineSim(col("q"), col("v"))))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKBy(col("s"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rk"),
        round(graft.functions.SortableBits.invert(col("col.score")), 4)
          .as("cosine_r"))
      .localCheckpoint(true) // materialize (small: k rows/query)
    out
  }
}
