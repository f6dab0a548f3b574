package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import QuerySupport._

/** Code-clone and repository-level dedup: bag-overlap clone pairs and
  * groups, fork detection and pruning, Merkle directories, commit deltas.
  */
object CloneQueries {

  /** Clone-pair similarity threshold, percent. At 70 the bag-overlap
    * metric separates real near-dups from the corpus's shared-vocabulary
    * noise floor (θ=0.7 is also SourcererCC's shipped default).
    */
  private val CloneThetaPct = 70

  /** Token-bag ELEMENT stream for the clone detector: one row per
    * (doc, token, occurrence-index k). Multiset overlap Σ min(cā, c_b)
    * is exactly SET intersection over these (tok, k) elements, so the
    * whole bag algorithm — prefix filtering included — reduces to the
    * set case. Tokens are lowercase [a-z0-9_]+ runs (the code-ish
    * tokenizer DuckDB replays with string_split_regex).
    */
  private def cloneElems(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // A doc's whole token bag lives in ONE input row, so tokenize +
    // multiset-count + element hashing are all map-side: no exploded
    // token-string row ever shuffles (round-4 rewrite — the previous
    // groupBy(doc_id, tok) shuffled the full token stream as strings).
    // The element hash chains exactly like the SQL xxhash64(tok, k).
    par(spark, t(spark, dir, "documents")
        .select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .mapPartitions { it =>
        val sep = java.util.regex.Pattern.compile("[^a-z0-9_]+")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val counts = scala.collection.mutable.HashMap.empty[String, Int]
            // Locale.ROOT: locale-independent like the SQL lower() this
            // replaced (a tr_TR JVM default would fold I→ı)
            sep.split(text.toLowerCase(java.util.Locale.ROOT)).foreach { tok =>
              if (tok.nonEmpty) counts(tok) = counts.getOrElse(tok, 0) + 1
            }
            counts.iterator.flatMap { case (tok, c) =>
              val b = tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val th = org.apache.spark.sql.catalyst.expressions.XXH64
                .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                  b.length, 42L)
              (1 to c).iterator.map { k =>
                (id, org.apache.spark.sql.catalyst.expressions.XXH64
                  .hashLong(k.toLong, th))
              }
            }
          }
        }
      }
      .toDF("doc_id", "h")
  }

  /** SourcererCC-style code-clone pairs (Sajnani et al., ICSE 2016 —
    * the token-bag clone detector for source code, the published
    * scale-out answer the reference's near-dup family lacks): two docs
    * are clones iff their token-bag overlap Σ min(count_a, count_b) ≥
    * θ·max(|A|,|B|), θ = 0.7, integer-exact as 100·inter ≥ 70·max.
    *
    * Candidate generation is PREFIX FILTERING: bag elements (tok, k) —
    * hashed to 8 bytes map-side, tokens never shuffle as strings — get
    * a global rarity order (document frequency asc, element hash) and
    * only each doc's first n − ⌈θn⌉ + 1 elements in that order — its
    * RAREST tokens — become join keys. Any pair meeting θ must share a
    * prefix element (PPJoin's prefix lemma — any consistent total order
    * works), so recall is lossless: the DuckDB oracle is the UNFILTERED
    * brute-force bag join over the token STRINGS, and hash-green proves
    * both that no pair is dropped and that no element-hash collision
    * perturbed a count. The scale win is structural: a boilerplate
    * token in every doc is in almost no doc's prefix, so the join-key
    * frequency distribution self-flattens — the skew the gram-keyed
    * near-dup family needs an explicit df cap for ([[dDupSpanPairs]])
    * never forms. Length filter 100·min ≥ 70·max prunes candidates
    * before the verify join; verify intersects the per-doc sorted
    * element-hash arrays with the codegen'd
    * [[graft.functions.IntersectSorted]] merge scan (doc-keyed joins,
    * text never shuffles past tokenization).
    */
  def dClonePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val elems = cloneElems(spark, dir)
    // element hashes are 8 bytes — df count, rarity join and the per-doc
    // regroup shuffle nothing wider (token strings never leave the map
    // stage); global rarity order is (df, h), any consistent total order
    // satisfies the prefix lemma
    val dfreq = elems.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = elems.join(dfreq, Seq("h"))
      .select(col("doc_id"), col("df"), col("h"))
    val docs = ranked.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (id: Long, it: Iterator[(Long, Long, Long)]) =>
        // buffers one doc's elements — bounded by the doc's token count
        val arr = it.map { case (_, df, h) => (df, h) }.toArray
        val n = arr.length
        val alpha = (n * CloneThetaPct + 99) / 100 // ⌈θn⌉, integer-exact
        val p = n - alpha + 1
        scala.util.Sorting.quickSort(arr) // (df, h) rarity order
        val prefix = arr.take(p).map(_._2)
        val sorted = arr.map(_._2)
        java.util.Arrays.sort(sorted)
        (id, n.toLong, sorted, prefix)
      }
      .toDF("doc_id", "n", "toks", "prefix")
      .localCheckpoint(true) // prefix join and verify join both read it
    // posexplode: the element's index within the rarity-ordered prefix —
    // which is its index in the doc's FULL rarity order, since the prefix
    // is its head — drives the PPJoin POSITIONAL filter below
    val pre = docs.select(col("doc_id"), col("n"),
      posexplode(col("prefix")).as(Seq("p", "h")))
    // r6: two lossless pruning layers BEFORE the dedup exchange — the
    // length filter, plus PPJoin's positional filter (Xiao et al. 2008):
    // a pair's overlap is at most 1 + min(elements of a at/after this
    // match, same for b) in the shared rarity order, and for a
    // qualifying pair the FIRST shared prefix element always passes this
    // bound, so dropping matched rows that fail it never drops a
    // qualifying pair. (Measured NEUTRAL on the fixture corpus: its
    // near-dups are near-EQUAL-sized, and for na ≈ nb every prefix
    // position passes the bound by construction — the filter bites on
    // size-mismatched pairs, the shape real mixed corpora produce.) The
    // dedup then ships (a, b) ONLY — na/nb are functions of the doc ids
    // (re-attached by the verify joins below). (A SHUFFLE_HASH hint on
    // the self-join was tried and measured 2.5× WORSE: AQE broadcasts
    // the prefix side here, and the hint blocked that.)
    val cand = pre.toDF("a", "na", "pa", "h")
      .join(pre.toDF("b", "nb", "pb", "h"), Seq("h"))
      .filter(col("a") < col("b") &&
        least(col("na"), col("nb")) * 100 >=
          greatest(col("na"), col("nb")) * CloneThetaPct &&
        (lit(1) + least(col("na") - 1 - col("pa"), col("nb") - 1 - col("pb"))) * 100 >=
          greatest(col("na"), col("nb")) * CloneThetaPct)
      .select(col("a"), col("b"))
      .dropDuplicates(Seq("a", "b"))
    val arrays = docs.select(col("doc_id"), col("n"), col("toks"))
    cand
      .join(arrays.toDF("a", "n_a", "ta"), Seq("a"))
      .join(arrays.toDF("b", "n_b", "tb"), Seq("b"))
      .select(col("a"), col("b"), col("n_a"), col("n_b"),
        graft.functions.IntersectSorted(col("ta"), col("tb")).as("inter"))
      .filter(col("inter") * 100 >=
        greatest(col("n_a"), col("n_b")) * CloneThetaPct)
  }

  /** Clone GROUPS: connected components over the [[dClonePairs]] edges —
    * every doc (null-text and token-free docs included, as singletons)
    * labeled with the min doc_id of its clone class. Reuses
    * [[ConnectedComponents.run]]; the oracle closes the same edge set
    * with a recursive min-label CTE.
    */
  def dCloneGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val edges = dClonePairs(spark, dir).select(col("a"), col("b"))
    ConnectedComponents.run(docs.toDF("fileId"), edges)
      .select(col("fileId").as("doc_id"), col("clusterId").as("cluster_id"))
  }

  /** Deterministic north-rule-shaped files table (repo, path, content)
    * derived from the documents corpus: docs shard into 40 repos per
    * source, paths derive from the content digest (so repos holding the
    * same texts lay them out identically — the fork/vendoring structure
    * repo-granularity dedup detects), and every repo gets a "_fork"
    * sibling carrying the ⅔ of its files with doc_id % 3 ≠ 0 — a
    * genuine partial fork with Jaccard ≈ ⅔ against its base. The DuckDB
    * oracles rebuild the identical table, so the whole repo layer is
    * value-checked end to end.
    */
  private def repoFiles(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"), md5(col("text")).as("m"))
    val path = concat(lit("d"), substring(col("m"), 1, 1), lit("/e"),
      substring(col("m"), 2, 1), lit("/"), substring(col("m"), 1, 10), lit(".txt"))
    val base = d.select(
      concat(col("source"), lit("_r"), (col("doc_id") % 40).cast("string")).as("repo"),
      path.as("path"), col("text").as("content"))
    val fork = d.filter(col("doc_id") % 3 =!= 0).select(
      concat(col("source"), lit("_r"), (col("doc_id") % 40).cast("string"),
        lit("_fork")).as("repo"),
      path.as("path"), col("text").as("content"))
    base.unionAll(fork)
  }

  private val repoFilesSql =
    """docs AS MATERIALIZED (
      |  SELECT doc_id, source, text, md5(text) AS m
      |  FROM documents WHERE text IS NOT NULL),
      |files AS MATERIALIZED (
      |  SELECT source || '_r' || CAST(doc_id % 40 AS VARCHAR) AS repo,
      |    'd' || substr(m, 1, 1) || '/e' || substr(m, 2, 1) || '/' ||
      |      substr(m, 1, 10) || '.txt' AS path,
      |    m AS h
      |  FROM docs
      |  UNION ALL
      |  SELECT source || '_r' || CAST(doc_id % 40 AS VARCHAR) || '_fork',
      |    'd' || substr(m, 1, 1) || '/e' || substr(m, 2, 1) || '/' ||
      |      substr(m, 1, 10) || '.txt',
      |    m
      |  FROM docs WHERE doc_id % 3 <> 0)""".stripMargin

  /** Repo-granularity fork detection over the derived (repo, path,
    * content) table — [[operators.RepoDedup.forkPairs]] at θ = 0.5. The
    * oracle is the UNFILTERED brute-force set join, so hash-green
    * certifies the prefix filter lossless at repo granularity too.
    */
  def dRepoForks(spark: SparkSession, dir: String): DataFrame =
    operators.RepoDedup.forkPairs(repoFiles(spark, dir), 50)

  /** Fork families: connected components over the fork edges; family =
    * lexicographically smallest member repo. */
  def dForkFamilies(spark: SparkSession, dir: String): DataFrame =
    operators.RepoDedup.forkFamilies(repoFiles(spark, dir), 50)

  /** Fork retention action: one canonical repo per family (most files,
    * ties → smallest name), keep/drop per repo. */
  def dForkPrune(spark: SparkSession, dir: String): DataFrame =
    operators.RepoDedup.forkPrune(repoFiles(spark, dir), 50)

  /** Merkle-style directory-subtree census over the derived files table
    * ([[operators.RepoDedup.dirCensus]]): order-independent 48-bit
    * subtree signatures, cross-location share counts.
    */
  def dMerkleDirs(spark: SparkSession, dir: String): DataFrame =
    operators.RepoDedup.dirCensus(repoFiles(spark, dir))

  /** Subtree retention action over the derived files table
    * ([[operators.RepoDedup.dirPrune]]): one canonical location per
    * identical-subtree class, every other location marked prunable. */
  def dMerklePrune(spark: SparkSession, dir: String): DataFrame =
    operators.RepoDedup.dirPrune(repoFiles(spark, dir))

  /** Commit-chain dedup ([[operators.RepoDedup.commitDeltas]]) over a
    * derived 4-commit history: each repo grows (docs arrive at commit
    * doc_id % 4) and every fifth doc mutates at commit 2 — so the
    * deltas exercise arrival, carry-over AND modification. Fully
    * integer/md5-deterministic; the oracle replays the whole chain.
    */
  def dCommitDeltas(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").filter(col("text").isNotNull)
    val files = d
      .select(col("doc_id"), col("source"), col("text"),
        explode(sequence(lit(0L), lit(3L))).as("cseq"))
      .filter(col("doc_id") % 4 <= col("cseq"))
      .select(
        concat(col("source"), lit("_r"), (col("doc_id") % 40).cast("string"))
          .as("repo"),
        col("cseq"),
        concat(lit("f"), col("doc_id").cast("string"), lit(".txt")).as("path"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit("#v"),
            floor(col("cseq") / 2).cast("string")))
          .otherwise(col("text")).as("content"))
    operators.RepoDedup.commitDeltas(files)
  }

  /** Oracle CTE chain shared by [[dForkFamilies]] and [[dForkPrune]]:
    * repo content sets, fork edges at Jaccard ≥ 0.5, the recursive
    * min-label closure `reach`, and `fam`, each family's smallest repo name
    * and size.
    */
  private val forkFamilySql =
    s"""WITH RECURSIVE $repoFilesSql,
      |sets AS MATERIALIZED (SELECT DISTINCT repo, h FROM files),
      |sizes AS (SELECT repo, count(*) AS n FROM sets GROUP BY 1),
      |pairs AS (
      |  SELECT a.repo AS repo_a, b.repo AS repo_b, count(*) AS inter
      |  FROM sets a JOIN sets b ON b.h = a.h AND a.repo < b.repo
      |  GROUP BY 1, 2),
      |edges AS MATERIALIZED (
      |  SELECT repo_a AS a, repo_b AS b FROM pairs
      |  JOIN sizes sa ON sa.repo = repo_a
      |  JOIN sizes sb ON sb.repo = repo_b
      |  WHERE inter * 100 >= (sa.n + sb.n - inter) * 50),
      |sym AS (SELECT a AS x, b AS y FROM edges UNION SELECT b, a FROM edges),
      |reach(node, label) AS (
      |  SELECT repo, repo FROM sizes
      |  UNION
      |  SELECT s.y, r.label FROM reach r JOIN sym s ON s.x = r.node
      |  WHERE r.label < s.y),
      |lab AS (SELECT node AS repo, min(label) AS cl FROM reach GROUP BY node),
      |fam AS (SELECT cl, min(repo) AS family, count(*) AS family_size
      |        FROM lab GROUP BY cl)""".stripMargin

  /** Oracle CTE chain shared by [[dMerkleDirs]] and [[dMerklePrune]]: per
    * (repo, dir), the file count and the 48-bit additive signature of its
    * subtree's (relative path, content) terms.
    */
  private val merkleCensusSql =
    s"""WITH $repoFilesSql,
      |uf AS (SELECT DISTINCT repo, path, h FROM files),
      |anc AS (
      |  SELECT repo,
      |    CASE WHEN i = 0 THEN '' ELSE array_to_string(p[1:i], '/') END AS dir,
      |    md5(array_to_string(p[i+1:len(p)], '/') || ':' || h) AS mm
      |  FROM (SELECT repo, h, p, unnest(range(0, len(p))) AS i
      |        FROM (SELECT repo, h, string_split(path, '/') AS p FROM uf))),
      |terms AS (SELECT DISTINCT repo, dir, ${h48Sql("mm")} AS term FROM anc),
      |census AS (
      |  SELECT repo, dir, count(*) AS n_files,
      |    CAST(sum(CAST(term AS HUGEINT)) % 281474976710656 AS BIGINT) AS sig
      |  FROM terms GROUP BY 1, 2)""".stripMargin

  /** Oracle CTE chain shared by [[dClonePairs]] and [[dCloneGroups]]: per
    * document token bags (`cnt`), bag sizes (`n`) and the brute-force bag
    * intersection of every doc pair (`inter`).
    */
  private val cloneInterSql =
    """toks AS MATERIALIZED (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^a-z0-9_]+')) AS tok
      |    FROM documents)
      |  WHERE tok <> ''),
      |cnt AS MATERIALIZED (
      |  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |    CAST(sum(least(a.c, b.c)) AS BIGINT) AS inter
      |  FROM cnt a JOIN cnt b ON b.tok = a.tok AND b.doc_id > a.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // brute-force bag join, NO prefix filter: hash-green proves the
    // Spark side's prefix filtering loses no pair
    QueryDef("d_clone_pairs", dClonePairs, Some(
      s"""WITH $cloneInterSql
        |SELECT i.a, i.b, na.n AS n_a, nb.n AS n_b, i.inter
        |FROM inter i
        |JOIN n na ON na.doc_id = i.a
        |JOIN n nb ON nb.doc_id = i.b
        |WHERE i.inter * 100 >= greatest(na.n, nb.n) * 70""".stripMargin)),
    QueryDef("d_clone_groups", dCloneGroups, Some(
      s"""WITH RECURSIVE
        |$cloneInterSql,
        |edges AS MATERIALIZED (
        |  SELECT i.a, i.b FROM inter i
        |  JOIN n na ON na.doc_id = i.a
        |  JOIN n nb ON nb.doc_id = i.b
        |  WHERE i.inter * 100 >= greatest(na.n, nb.n) * 70),
        |sym AS (SELECT a AS x, b AS y FROM edges UNION SELECT b, a FROM edges),
        |reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT s.y, r.label FROM reach r JOIN sym s ON s.x = r.node
        |  WHERE r.label < s.y)
        |SELECT node AS doc_id, min(label) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin)),
    // brute-force repo-set join, NO prefix filter: hash-green proves the
    // repo-granularity prefix filtering loses no pair either
    QueryDef("d_repo_forks", dRepoForks, Some(
      s"""WITH $repoFilesSql,
        |sets AS MATERIALIZED (SELECT DISTINCT repo, h FROM files),
        |sizes AS (SELECT repo, count(*) AS n FROM sets GROUP BY 1),
        |pairs AS (
        |  SELECT a.repo AS repo_a, b.repo AS repo_b, count(*) AS inter
        |  FROM sets a JOIN sets b ON b.h = a.h AND a.repo < b.repo
        |  GROUP BY 1, 2)
        |SELECT repo_a, repo_b, sa.n AS n_a, sb.n AS n_b, inter
        |FROM pairs
        |JOIN sizes sa ON sa.repo = repo_a
        |JOIN sizes sb ON sb.repo = repo_b
        |WHERE inter * 100 >= (sa.n + sb.n - inter) * 50""".stripMargin)),
    QueryDef("d_fork_families", dForkFamilies, Some(
      s"""$forkFamilySql
        |SELECT l.repo, f.family, f.family_size
        |FROM lab l JOIN fam f USING (cl)""".stripMargin)),
    QueryDef("d_fork_prune", dForkPrune, Some(
      s"""$forkFamilySql,
        |fs AS (
        |  SELECT l.repo, f.family, f.family_size, s.n AS n_files
        |  FROM lab l JOIN fam f USING (cl) JOIN sizes s ON s.repo = l.repo),
        |best AS (SELECT family, max(n_files) AS canon_files FROM fs GROUP BY 1),
        |canon AS (
        |  SELECT fs.family, min(fs.repo) AS canon
        |  FROM fs JOIN best ON best.family = fs.family
        |    AND fs.n_files = best.canon_files
        |  GROUP BY 1)
        |SELECT fs.repo, fs.family, fs.family_size, fs.n_files, c.canon,
        |  fs.repo = c.canon AS keep
        |FROM fs JOIN canon c USING (family)""".stripMargin)),
    QueryDef("d_merkle_dirs", dMerkleDirs, Some(
      s"""$merkleCensusSql,
        |shares AS (SELECT sig, n_files, count(*) AS n_locations,
        |    count(DISTINCT repo) AS n_repos
        |  FROM census GROUP BY 1, 2)
        |SELECT c.repo, c.dir, c.n_files, c.sig, s.n_locations, s.n_repos
        |FROM census c JOIN shares s USING (sig, n_files)""".stripMargin)),
    QueryDef("d_merkle_prune", dMerklePrune, Some(
      s"""$merkleCensusSql,
        |shares AS (SELECT sig, n_files, count(*) AS n_locations,
        |    min(struct_pack(r := repo, d := dir)) AS c
        |  FROM census GROUP BY 1, 2)
        |SELECT census.repo, census.dir, census.n_files, census.sig,
        |  s.n_locations, s.c.r AS canon_repo, s.c.d AS canon_dir,
        |  census.repo = s.c.r AND census.dir = s.c.d AS keep
        |FROM census JOIN shares s USING (sig, n_files)""".stripMargin)),
    QueryDef("d_commit_deltas", dCommitDeltas, Some(
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
        |files AS MATERIALIZED (
        |  SELECT source || '_r' || CAST(doc_id % 40 AS VARCHAR) AS repo,
        |    cseq,
        |    'f' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
        |    md5(CASE WHEN doc_id % 5 = 0
        |        THEN text || '#v' || CAST(CAST(floor(cseq / 2) AS BIGINT) AS VARCHAR)
        |        ELSE text END) AS h
        |  FROM d, (SELECT unnest(range(0, 4)) AS cseq)
        |  WHERE doc_id % 4 <= cseq),
        |v AS (SELECT DISTINCT repo, cseq, path, h FROM files),
        |fs AS (SELECT repo, path, h, min(cseq) AS intro FROM v GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT v.repo, v.cseq, count(*) AS n_files,
        |    CAST(sum(CASE WHEN v.cseq = fs.intro THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM v JOIN fs USING (repo, path, h) GROUP BY 1, 2)
        |SELECT repo, cseq, n_files, n_new, n_files - n_new AS n_carried,
        |  CAST(floor(n_new * 100 / n_files) AS BIGINT) AS new_ratio_pct
        |FROM agg""".stripMargin))
  )
}
