package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repo-granularity dedup over the north-rule input shape
  * `(repo, path, content)` — the curation layer ABOVE file/chunk dedup:
  * when the corpus is 10^12 files of source code, whole forked
  * repositories and vendored directory subtrees are the dominant
  * duplication mode (The Stack / CodeParrot curate at exactly this
  * granularity before any file-level pass).
  *
  * The operator family:
  *  - [[forkPairs]] — fork / near-fork detection: repos as SETS of file
  *    content digests, Jaccard ≥ θ via the same lossless prefix-filter +
  *    length-filter + codegen'd merge-scan verify the token-bag clone
  *    detector uses ([[graft.queries.CloneQueries.dClonePairs]] — Sajnani et al.,
  *    ICSE 2016 adapted from bags to sets). One df-keyed join for
  *    rarity, one prefix-keyed candidate join, doc-keyed verify joins;
  *    file content never shuffles (only 16-byte digests). Boilerplate
  *    files shared by every repo fall out of every repo's prefix, so
  *    the hot-key skew a digest-keyed pair join would create never
  *    forms.
  *  - [[dirCensus]] — Merkle-style subtree dedup: every directory of
  *    every repo gets an order-independent signature of its entire
  *    subtree {(relative path, content digest)}; identical signatures
  *    across locations = vendored/copied subtrees, at the root ("") =
  *    whole-repo clones. The signature is a COMMUTATIVE 48-bit set-sum
  *    (exact decimal accumulation, reduced mod 2^48), deliberately not
  *    a sorted-concat hash: the rollup stays one combinable aggregation
  *    with no per-directory sort and no collect_list on a hot key — a
  *    10^8-file vendored tree aggregates map-side. Equal multisets ⇒
  *    equal signatures by construction; unequal ones collide with
  *    probability ~2^-48 per pair (the DuckDB oracle replays the sums
  *    exactly, so any collision on test data would surface as a hash
  *    mismatch).
  *  - [[forkFamilies]] / [[forkPrune]] — fork families via connected
  *    components and the retention action (one canonical repo kept per
  *    family).
  *  - [[commitDeltas]] — per-commit introduced/carried version counts
  *    over the commit dimension (the backup-version-chain analog);
  *    streaming twin: `graft.streaming.StreamIngest.commitStream`.
  *
  * Reference tie-in: destor dedups a backup STREAM against itself; the
  * repo/subtree layer is the equivalent of its per-backup version
  * chains (same fork-like sharing across backups — SURVEY.md §2.10
  * training-data ops row).
  */
object RepoDedup {

  /** 48-bit integer from the first 12 hex nibbles of md5(s) — small
    * enough that decimal set-sums stay exact, wide enough that pairwise
    * collisions need ~2^24 members (conv() is codegen'd; the DuckDB
    * oracle replays it with a 12-nibble Horner sum).
    */
  private def h48(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** files(repo, path, content) → one row per (repo, ancestor dir,
    * relative path, content digest). A path `a/b/f.c` contributes to
    * dirs "" (root), "a" and "a/b"; amplification = path depth (bounded
    * by the filesystem, typically ≤ 10 — map-side only, no shuffle).
    */
  private def ancestorTerms(files: DataFrame): DataFrame = {
    // strip leading slashes: otherwise "/a/f.c"'s first component is ""
    // and the "/" directory would collide with the root dir ""
    val parts = split(regexp_replace(col("path"), "^/+", ""), "/")
    files
      .filter(col("content").isNotNull)
      .select(col("repo"), col("path"), md5(col("content")).as("h"), parts.as("parts"))
      .select(col("repo"), col("h"),
        posexplode(transform(sequence(lit(0), size(col("parts")) - 1),
          i => struct(
            array_join(slice(col("parts"), lit(1), i), "/").as("dir"),
            array_join(slice(col("parts"), i + 1, size(col("parts")) - i), "/")
              .as("rel")))))
      .select(col("repo"), col("col.dir").as("dir"), col("col.rel").as("rel"),
        col("h"))
  }

  /** Per-directory subtree census: (repo, dir, n_files, sig,
    * n_locations, n_repos) where sig is the subtree signature and
    * n_locations / n_repos count how many (repo, dir) locations /
    * distinct repos carry an identical subtree (≥2 ⇒ vendored or
    * forked copy; the dir="" row compares whole repos).
    *
    * Identical FILES inside one directory collapse to one set element
    * (relative path is part of the element, so two different paths with
    * equal content still count separately — tree shape matters, like a
    * real Merkle tree).
    */
  def dirCensus(files: DataFrame): DataFrame = {
    val mod48 = lit(java.math.BigDecimal.valueOf(1L << 48))
    val census = ancestorTerms(files)
      .select(col("repo"), col("dir"),
        h48(concat(col("rel"), lit(":"), col("h"))).as("term"))
      .distinct() // set semantics per (repo, dir)
      .groupBy(col("repo"), col("dir"))
      .agg(count(lit(1)).as("n_files"),
        pmod(sum(col("term").cast("decimal(38,0)")), mod48)
          .cast("long").as("sig"))
      // one row per directory; both the share count and the join back
      // read it — checkpoint so the full ancestor-terms scan runs once
      .localCheckpoint(true)
    val shares = census.groupBy(col("sig"), col("n_files"))
      .agg(count(lit(1)).as("n_locations"),
        countDistinct(col("repo")).as("n_repos"))
    census.join(shares, Seq("sig", "n_files"))
      .select(col("repo"), col("dir"), col("n_files"), col("sig"),
        col("n_locations"), col("n_repos"))
  }

  /** Subtree retention ACTION on top of [[dirCensus]]: for every class
    * of identical subtrees (same signature + element count) keep ONE
    * canonical location — the lexicographically smallest (repo, dir) —
    * and mark every other location a prunable duplicate (the
    * vendored-copy cleanup a code-corpus curator runs before file-level
    * dedup). One combinable min(struct) per class + one class-keyed
    * join; no windows.
    *
    * NOTE a kept directory's descendants are themselves duplicate
    * CLASSES with their own canonical location inside the kept copy, so
    * filtering `keep` keeps exactly one copy of every subtree level;
    * pruning should act on the OUTERMOST dropped dirs (drop rows whose
    * ancestor is already dropped are redundant).
    */
  def dirPrune(files: DataFrame): DataFrame = {
    val census = dirCensus(files)
    val canon = census.groupBy(col("sig"), col("n_files"))
      .agg(min(struct(col("repo"), col("dir"))).as("c"))
      .select(col("sig"), col("n_files"),
        col("c.repo").as("canon_repo"), col("c.dir").as("canon_dir"))
    census.join(canon, Seq("sig", "n_files"))
      .select(col("repo"), col("dir"), col("n_files"), col("sig"),
        col("n_locations"),
        col("canon_repo"), col("canon_dir"),
        (col("repo") === col("canon_repo") && col("dir") === col("canon_dir"))
          .as("keep"))
  }

  /** Fork pairs: unordered repo pairs with Jaccard(file-digest sets) ≥
    * thetaPct/100, emitted as (repo_a, repo_b, n_a, n_b, inter) with
    * repo_a < repo_b. Lossless prefix filtering (PPJoin lemma, global
    * document-frequency rarity order): J ≥ t on a size-n set forces
    * overlap ≥ ⌈t·n⌉, so only the n − ⌈t·n⌉ + 1 globally-rarest
    * digests of each repo become join keys; the size filter
    * 100·min ≥ θ·max prunes before the verify join; verify is the
    * codegen'd [[graft.functions.IntersectSortedPairs]] merge scan over
    * per-repo sorted arrays of FULL 128-bit digests (md5 packed as two
    * longs) — exact, no hash truncation, so a candidate admitted by an
    * xxhash64 prefix-key collision is always rejected here. Only the
    * candidate-generation keys are 64-bit (collisions there add
    * spurious candidates, never lose true ones: equal digests always
    * hash equal).
    */
  def forkPairs(files: DataFrame, thetaPct: Int): DataFrame = {
    import files.sparkSession.implicits._
    require(thetaPct > 0 && thetaPct <= 100, s"thetaPct in (0,100]: $thetaPct")
    val elems = files
      .filter(col("content").isNotNull)
      .select(col("repo"), md5(col("content")).as("h"))
      .distinct()
    val dfreq = elems.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = elems.join(dfreq, Seq("h"))
      .select(col("repo"), col("df"), col("h"), xxhash64(col("h")).as("hv"))
    val repos = ranked.as[(String, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroups { (repo: String, it: Iterator[(String, Long, String, Long)]) =>
        // buffers one repo's digest set — 32 bytes per distinct file
        val arr = it.map { case (_, df, h, hv) => (df, h, hv) }.toArray
        val n = arr.length
        val alpha = (n * thetaPct + 99) / 100 // ⌈t·n⌉, integer-exact
        val p = n - alpha + 1
        scala.util.Sorting.quickSort(arr) // (df, h) global rarity order
        val prefix = arr.take(p).map(_._3)
        // full 128-bit digests packed (hi, lo), unsigned-sorted for the
        // exact merge-scan verify
        val pairs = arr.map { case (_, h, _) =>
          (java.lang.Long.parseUnsignedLong(h.substring(0, 16), 16),
            java.lang.Long.parseUnsignedLong(h.substring(16, 32), 16))
        }
        java.util.Arrays.sort(pairs, (x: (Long, Long), y: (Long, Long)) => {
          val c = java.lang.Long.compareUnsigned(x._1, y._1)
          if (c != 0) c else java.lang.Long.compareUnsigned(x._2, y._2)
        })
        val sorted = new Array[Long](2 * n)
        var i = 0
        while (i < n) {
          sorted(2 * i) = pairs(i)._1; sorted(2 * i + 1) = pairs(i)._2
          i += 1
        }
        (repo, n.toLong, sorted, prefix)
      }
      .toDF("repo", "n", "hs", "prefix")
      .localCheckpoint(true) // prefix join and both verify joins read it
    val pre = repos.select(col("repo"), col("n"), explode(col("prefix")).as("hv"))
    val cand = pre.toDF("repo_a", "na", "hv")
      .join(pre.toDF("repo_b", "nb", "hv"), Seq("hv"))
      .filter(col("repo_a") < col("repo_b") &&
        least(col("na"), col("nb")) * 100 >=
          greatest(col("na"), col("nb")) * thetaPct)
      .select(col("repo_a"), col("repo_b"), col("na"), col("nb"))
      .distinct()
    val arrays = repos.select(col("repo"), col("hs"))
    cand
      .join(arrays.toDF("repo_a", "ha"), Seq("repo_a"))
      .join(arrays.toDF("repo_b", "hb"), Seq("repo_b"))
      .select(col("repo_a"), col("repo_b"), col("na").as("n_a"),
        col("nb").as("n_b"),
        graft.functions.IntersectSortedPairs(col("ha"), col("hb")).as("inter"))
      // Jaccard ≥ t ⟺ 100·inter ≥ t·(n_a + n_b − inter)
      .filter(col("inter") * 100 >=
        (col("n_a") + col("n_b") - col("inter")) * thetaPct)
  }

  /** Commit-chain dedup: the destor backup-version-chain analog at repo
    * granularity, over the full north-rule shape `(repo, path, commit,
    * content)` with a total order on each repo's commits (`cseq`). For
    * every commit of every repo: how many live file versions it holds
    * (`n_files`), how many of those versions it INTRODUCED (`n_new` —
    * first commit where that (path, content digest) appears in the
    * repo), and how many it carries unchanged from earlier commits
    * (`n_carried`); `new_ratio_pct` is the integer novelty percentage —
    * the repo-history dedup ratio an incremental snapshot store (or a
    * training-data curator deciding which snapshots to keep) needs.
    *
    * Plan shape: one min-aggregation per (repo, path, digest) — the
    * first-writer rule, exactly [[graft.pipeline.DedupPipeline]]'s
    * uniqueChunks shape one level up — then one join back on the same
    * key and one per-(repo, commit) count rollup. Everything is
    * map-side combinable; no windows, no per-repo sort: commit order
    * arrives as data (`cseq`), not as a sort, so a repo with 10^6
    * commits never funnels one task.
    */
  def commitDeltas(files: DataFrame): DataFrame = {
    val versions = files
      .filter(col("content").isNotNull)
      .select(col("repo"), col("cseq"), col("path"), md5(col("content")).as("h"))
      .distinct()
    val firstSeen = versions
      .groupBy(col("repo"), col("path"), col("h"))
      .agg(min(col("cseq")).as("intro"))
    versions.join(firstSeen, Seq("repo", "path", "h"))
      .groupBy(col("repo"), col("cseq"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("cseq") === col("intro"), 1L).otherwise(0L)).as("n_new"))
      .withColumn("n_carried", col("n_files") - col("n_new"))
      // floor of an IEEE double division is bit-identical across engines
      .withColumn("new_ratio_pct", floor(col("n_new") * lit(100) / col("n_files")))
  }

  /** Fork retention ACTION (the repo-level [[graft.queries.NearDupQueries.dNeardupPrune]]
    * analog): per fork family keep ONE canonical repo — the one with the
    * most distinct file contents, ties broken by lexicographically
    * smallest name — and emit the keep/drop decision per repo. One
    * combinable max(struct) per family plus one family-keyed join; no
    * windows, no per-family sort.
    */
  def forkPrune(files: DataFrame, thetaPct: Int): DataFrame = {
    val sizes = files.filter(col("content").isNotNull)
      .select(col("repo"), md5(col("content")).as("h")).distinct()
      .groupBy(col("repo")).agg(count(lit(1)).as("n_files"))
    val fams = forkFamilies(files, thetaPct).join(sizes, Seq("repo"))
      .localCheckpoint(true) // one row per repo; three consumers below
    // two-phase arg-max, both phases combinable aggs (a mixed-direction
    // (max size, min name) arg-pick cannot ride one min/max(struct))
    val best = fams.groupBy(col("family"))
      .agg(max(col("n_files")).as("canon_files"))
    val canon = fams.join(best, Seq("family"))
      .filter(col("n_files") === col("canon_files"))
      .groupBy(col("family"))
      .agg(min(col("repo")).as("canon"))
    fams.join(canon, Seq("family"))
      .select(col("repo"), col("family"), col("family_size"),
        col("n_files"), col("canon"),
        (col("repo") === col("canon")).as("keep"))
  }

  /** Fork FAMILIES: connected components over [[forkPairs]] edges;
    * every repo (singletons included) gets family = the
    * lexicographically smallest repo name of its component, plus the
    * component size. CC runs on 64-bit name hashes (ids in no order
    * along a chain); the name mapping back out keeps the output
    * digest-free and deterministic. Because a silent rid collision
    * would merge two unrelated repos into one family — and forkPrune
    * would then DROP a non-fork repo — uniqueness is asserted loudly
    * up front (one O(#repos) aggregate on the tiny names table; #repos
    * ≪ #files, and 64-bit collisions need ~2^32 repos).
    */
  def forkFamilies(files: DataFrame, thetaPct: Int): DataFrame = {
    val names = files.filter(col("content").isNotNull)
      .select(col("repo")).distinct()
      .select(col("repo"), xxhash64(col("repo")).as("rid"))
      .localCheckpoint(true) // collision check + CC + label join read it
    val collided = names.groupBy(col("rid"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
    require(collided == 0L,
      "forkFamilies: rid hash collision across repo names — CC node ids " +
        "not unique; two unrelated repos would silently merge")
    val edges = forkPairs(files, thetaPct)
      .join(names.toDF("repo_a", "a"), Seq("repo_a"))
      .join(names.toDF("repo_b", "b"), Seq("repo_b"))
      .select(col("a"), col("b"))
    val cc = graft.pipeline.ConnectedComponents.run(
      names.select(col("rid").as("fileId")), edges)
    val labeled = names
      .join(cc, names("rid") === cc("fileId"))
      .select(col("repo"), col("clusterId"))
    val fam = labeled.groupBy(col("clusterId"))
      .agg(min(col("repo")).as("family"), count(lit(1)).as("family_size"))
    labeled.join(fam, Seq("clusterId"))
      .select(col("repo"), col("family"), col("family_size"))
  }
}
