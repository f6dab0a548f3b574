package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Garbage collection after version deletion (reference: src/do_delete.c,
  * src/cma.c) — the compaction job of SURVEY.md §3.3.
  *
  * Model: `recipe` rows carry a `version` column (the backup/commit that
  * referenced the chunk). Deleting a version makes its fps dead unless a
  * surviving version still references them (J6 left_anti); containers
  * holding dead chunks compact by migrating survivors; the CMA manifest
  * (container → last-referencing version) reclaims containers whose last
  * reference is at or before the deleted version (J8).
  */
object GC {

  /** J6: chunks of `deletedVersion` that no surviving version references. */
  def deadChunks(recipe: DataFrame, deletedVersion: String): DataFrame = {
    val dead = recipe.filter(col("version") === deletedVersion)
      .select(col("fp"), col("containerId"), col("size")).distinct()
    val live = recipe.filter(col("version") =!= deletedVersion)
      .select(col("fp")).distinct()
    dead.join(live, Seq("fp"), "left_anti")
  }

  /** Containers affected by the deletion, with surviving vs dead bytes —
    * the migration work list (reference: src/do_delete.c:130-265).
    */
  def compactionPlan(recipe: DataFrame, deletedVersion: String): DataFrame = {
    // distinct fps only: a dup here would multiply chunk rows in the join
    val dead = deadChunks(recipe, deletedVersion)
      .select(col("fp").as("deadFp")).distinct()
    val perContainer = recipe
      .select(col("fp"), col("containerId"), col("size")).distinct()
      .join(dead.select(col("deadFp"), lit(true).as("isDead")),
        col("fp") === col("deadFp"), "left")
      .groupBy(col("containerId"))
      .agg(
        sum(when(col("isDead"), 0L).otherwise(col("size"))).as("surviving_bytes"),
        sum(when(col("isDead"), col("size")).otherwise(0L)).as("dead_bytes"),
        sum(when(col("isDead"), 1L).otherwise(0L)).as("dead_chunks"))
    perContainer.filter(col("dead_chunks") > 0)
  }

  /** The executed compaction: the migration work table plus the recipe
    * rewritten to the post-compaction container ids.
    */
  final case class Compaction(migration: DataFrame, recipe: DataFrame)

  /** EXECUTABLE container compaction (reference: the delete pipeline
    * actually migrates survivors into fresh containers and rewrites
    * pointers — src/do_delete.c:130-164 chunk_filter → filter-phase-style
    * re-pack; CMA truncation src/cma.c:83-139). [[compactionPlan]] is the
    * work list; this runs it:
    *
    *  1. canonical chunk store: one row per fp (dedup-store semantics —
    *     an fp lives in exactly one container; min(containerId) is the
    *     first-writer home when the synthetic fixture aliases);
    *  2. containers holding ≥1 dead chunk are compacted: their SURVIVORS
    *     migrate into fresh densely-packed containers whose ids continue
    *     past the current max — cumulative-size packing in deterministic
    *     (oldCid, fp) order by [[DedupPipeline.pack]] (never a global
    *     window sort);
    *  3. the surviving versions' recipe rows are rewritten to the new
    *     container ids (deleted-version rows drop out).
    *
    * Zero-size chunks ride along at their packing position.
    * Re-running on the rewritten recipe with the same deleted version is
    * a NO-OP: its dead set is empty, so no container is affected.
    */
  def compactExec(recipe: DataFrame, deletedVersion: String,
      payload: Long = Rewrite.ContainerPayload): Compaction = {
    val store = recipe.groupBy(col("fp"))
      .agg(min(col("containerId")).as("cid"), min(col("size")).as("size"))
      .persist()
    val dead = deadChunks(recipe, deletedVersion).select(col("fp")).distinct()
    val affected = store.join(dead, Seq("fp")).select(col("cid")).distinct()
    val survivors = store
      .join(dead, Seq("fp"), "left_anti")
      .join(affected, Seq("cid"), "left_semi")
    val base = StoreChain.nextCid(recipe)
    val migration = DedupPipeline.pack(
        survivors.select(col("fp"), col("cid"),
          col("size").cast("long").as("sz"), lit("all").as("s")),
        "s", Seq("cid", "fp"), "sz", base, payload, "new_cid")
      .select(col("fp"), col("cid").as("old_cid"),
        col("sz").as("size"), col("new_cid"))
      .localCheckpoint(true)
    store.unpersist()
    val rewritten = recipe.filter(col("version") =!= deletedVersion)
      .join(migration.select(col("fp"), col("new_cid")), Seq("fp"), "left")
      .withColumn("containerId",
        coalesce(col("new_cid"), col("containerId")))
      .drop("new_cid")
    Compaction(migration, rewritten)
  }

  /** The executed chain expiry: survivor migration work list, the
    * surviving backups' recipes rewritten to post-compaction container
    * ids, and the fp → latest-copy index the NEXT chained backup
    * inherits.
    */
  final case class ChainExpiry(migration: DataFrame, recipes: DataFrame,
      index: DataFrame)

  /** EXECUTABLE retention for a CHAINED store (reference: the delete
    * pipeline run against a shared container pool, src/do_delete.c:
    * 130-265 + src/cma.c:83-139): expire one backup of a chain and
    * compact.
    *
    * Unlike [[compactExec]] (single-recipe stores, one canonical copy
    * per fp), a chained store holds MULTI-COPY fingerprints — every
    * rewrite pass stores an extra copy of a duplicate in a fresh
    * container (that is the whole point of rewriting), so recipes across
    * the chain legitimately reference the same fp at different container
    * ids. Liveness is therefore PER PHYSICAL COPY (fp, containerId):
    *
    *  1. the store's copies are one row per (fp, containerId) across all
    *     recipes (every written copy appears in its writing backup's
    *     recipe at its packed container); min(size) canonicalizes should
    *     an input ever carry inconsistent sizes for one copy, so the
    *     migration join can never multiply recipe rows;
    *  2. a copy is dead iff NO surviving backup's recipe references
    *     exactly that (fp, containerId) — another live copy of the same
    *     fp elsewhere does NOT keep it alive (src/do_delete.c's
    *     container-granular reference counting, not fp-granular);
    *  3. containers holding ≥1 dead copy compact: their LIVE copies
    *     migrate into fresh densely-packed containers past the chain's
    *     high-water id — cumulative-size packing in deterministic
    *     (oldCid, fp) order by [[DedupPipeline.pack]];
    *  4. surviving recipes rewrite (fp, oldCid) → newCid; expired rows
    *     drop out;
    *  5. the inherited index is fp → max surviving containerId (the
    *     latest-wins rule [[DedupPipeline]] backups maintain — migrated
    *     copies carry the freshest ids by construction).
    *
    * Input contract: version:string (the backup label), fp, containerId,
    * size. Re-running on the rewritten output with the same expired
    * version is a no-op (its rows are gone, so the dead set is empty).
    *
    * This is the distributed statement of the expiry; [[expireLocal]] is
    * its driver-side form for a chain of at most
    * [[TracePipeline.LocalCap]] rows ([[ClusterJob.expire]] picks one) and
    * must stay in step with it (StoreStepSpec checks that the two agree).
    */
  def expireChain(recipes: DataFrame, expiredVersion: String,
      payload: Long = Rewrite.ContainerPayload): ChainExpiry = {
    // one row per copy, live iff a surviving backup references it
    val copies = recipes.groupBy(col("fp"), col("containerId"))
      .agg(min(col("size")).as("size"),
        max(col("version") =!= expiredVersion).as("live"))
      .persist()
    val affected = copies.filter(!col("live"))
      .select(col("containerId")).distinct()
    val survivors = copies.filter(col("live"))
      .join(affected, Seq("containerId"), "left_semi")
    val base = StoreChain.nextCid(copies)
    val migration = DedupPipeline.pack(
        survivors.select(col("fp"), col("containerId").as("cid"),
          col("size").cast("long").as("sz"), lit("all").as("s")),
        "s", Seq("cid", "fp"), "sz", base, payload, "new_cid")
      .select(col("fp"), col("cid").as("old_cid"),
        col("sz").as("size"), col("new_cid"))
      .localCheckpoint(true)
    copies.unpersist()
    val rewritten = rewrite(recipes, expiredVersion, migration)
    val index = rewritten.groupBy(col("fp"))
      .agg(max(col("containerId")).as("idxCid"))
    ChainExpiry(migration, rewritten, index)
  }

  /** [[expireChain]]'s step 4: the surviving recipes, each copy that
    * `migration` moves pointed at its new container. */
  private[pipeline] def rewrite(recipes: DataFrame, expiredVersion: String,
      migration: DataFrame): DataFrame =
    recipes.filter(col("version") =!= expiredVersion)
      .join(migration.select(col("fp"), col("old_cid").as("containerId"),
          col("new_cid")), Seq("fp", "containerId"), "left")
      .withColumn("containerId", coalesce(col("new_cid"), col("containerId")))
      .drop("new_cid")

  /** The columns of [[expireChain]]'s migration table. */
  private[pipeline] val MigrationSchema =
    "fp STRING, old_cid BIGINT, size BIGINT, new_cid BIGINT"

  /** [[expireChain]] over a chain the driver holds: the migration in
    * (old_cid, fp) order, one array per column; each row's container id
    * after compaction and whether its backup survives; the fp → max
    * surviving container index. */
  private[pipeline] final case class LocalExpiry(
      migFp: Array[UTF8String], migOldCid: Array[Long], migSize: Array[Long],
      migNewCid: Array[Long], survives: Array[Boolean],
      containerId: Array[Long], indexFp: Array[UTF8String],
      indexCid: Array[Long])

  /** [[expireChain]]'s fold, statement for statement, over a chain of
    * `version`, `fp`, `containerId` and `size` columns the driver holds
    * (destor's sequential mark-and-migrate, src/do_delete.c:130-265).
    * Sorting the rows by (containerId, fp) lays each copy out as one run
    * and each container as consecutive copies, so liveness, the affected
    * containers and the migration order all come from one pass. Spark's
    * SizeEstimator: a row as [[ClusterJob.expire]] collects it is 128 B
    * and the result about 160 B more, so the 10^5 rows of
    * [[TracePipeline.LocalCap]] hold about 29 MB, within [[DriverFold]]'s
    * budget. */
  private[pipeline] def expireLocal(version: Array[UTF8String],
      fp: Array[UTF8String], containerId: Array[Long], size: Array[Int],
      expiredVersion: String, payload: Long): LocalExpiry = {
    val n = fp.length
    val expired = UTF8String.fromString(expiredVersion)
    val survives = version.map(_ != expired)
    val order = Array.range(0, n).sortWith { (a, b) =>
      if (containerId(a) != containerId(b)) containerId(a) < containerId(b)
      else fp(a).compareTo(fp(b)) < 0
    }
    def sameCopy(k: Int) = k > 0 &&
      containerId(order(k)) == containerId(order(k - 1)) &&
      fp(order(k)) == fp(order(k - 1))
    // 1. one copy per (fp, containerId) run of `order`: its first position,
    // min(size), live iff a surviving backup references it
    val copyAt = (0 until n).filter(!sameCopy(_)).toArray
    val copyEnd = copyAt.drop(1) :+ n
    val copySize = copyAt.indices.map(c =>
      (copyAt(c) until copyEnd(c)).map(k => size(order(k))).min).toArray
    val live = copyAt.indices.map(c =>
      (copyAt(c) until copyEnd(c)).exists(k => survives(order(k)))).toArray
    def cidOf(c: Int) = containerId(order(copyAt(c)))
    // 2. the affected containers: those holding a dead copy
    val affected = copyAt.indices.filter(!live(_)).map(cidOf).toSet
    // 3. fresh containers continue past the chain's high-water id
    val base = if (n == 0) 0L else containerId(order(n - 1)) + 1L
    // the survivors of affected containers, packed in (cid, fp) order
    val moved = copyAt.indices.filter(c => live(c) && affected(cidOf(c)))
      .toArray
    val migNewCid = DedupPipeline.packLocal(
      moved.map(copySize(_).toLong), base, payload)
    // 4. every row of a moved copy points at its new container
    val rewritten = containerId.clone()
    moved.indices.foreach { m =>
      (copyAt(moved(m)) until copyEnd(moved(m))).foreach(k =>
        rewritten(order(k)) = migNewCid(m))
    }
    // 5. the inherited index: fp → max surviving container id
    val index = scala.collection.mutable.HashMap.empty[UTF8String, Long]
    (0 until n).foreach { i =>
      if (survives(i))
        index(fp(i)) = math.max(index.getOrElse(fp(i), Long.MinValue),
          rewritten(i))
    }
    LocalExpiry(moved.map(c => fp(order(copyAt(c)))), moved.map(cidOf),
      moved.map(copySize(_).toLong), migNewCid, survives, rewritten,
      index.keys.toArray, index.values.toArray)
  }

  /** J8 CMA manifest merge: container → last-referencing version,
    * full-outer-merged with this run's usage
    * (reference: src/cma.c:17-75).
    */
  def mergeManifest(manifest: DataFrame, runUsage: DataFrame): DataFrame = {
    manifest.select(col("containerId"), col("lastRef").as("oldRef"))
      .join(runUsage.select(col("containerId"), col("lastRef").as("newRef")),
        Seq("containerId"), "full_outer")
      .select(col("containerId"),
        greatest(coalesce(col("oldRef"), lit("")),
          coalesce(col("newRef"), lit(""))).as("lastRef"))
  }

  /** J8 truncation: containers reclaimable because their last reference
    * is ≤ the deleted version (reference: src/cma.c:83-139).
    */
  def reclaimable(manifest: DataFrame, deletedVersion: String): DataFrame =
    manifest.filter(col("lastRef") <= deletedVersion)
}
