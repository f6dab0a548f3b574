package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The contract successive backup jobs share, stated once (reference
  * src/do_backup.c: the jobs of one working directory share the
  * fingerprint index, the container pool's next id, HAR's inter-job
  * sparse list — src/har_rewrite.c:59-117 — and the job id): the "bN"
  * stream label of backup N, the tables a chain root holds, and the
  * [[State]] each backup inherits.
  */
object StoreChain {

  private val Label = "^b(\\d+)$"
  private val LabelRegex = Label.r

  /** The backup id a stream label ([[State.label]]) carries; None for
    * another label. */
  def backupId(label: String): Option[Long] =
    LabelRegex.findFirstMatchIn(label).flatMap(_.group(1).toLongOption)

  /** [[backupId]] of a stream column, as a bigint. */
  def backupId(stream: Column): Column =
    regexp_extract(stream, Label, 1).cast("long")

  /** The columns of a root's recipe table: `final_recipe` in a
    * [[ClusterJob.backup]] root, `recipes` in a [[ClusterJob.expire]] one.
    * An `index` maps fp → idxCid, the latest written copy of each
    * fingerprint; a `har_sparse` lists containerIds. */
  val RecipeSchema = "stream STRING, seq BIGINT, path STRING, fp STRING, " +
    "size INT, dup BOOLEAN, write BOOLEAN, containerId BIGINT"
  private val IndexSchema = "fp STRING, idxCid BIGINT"
  private val SparseSchema = "containerId BIGINT"

  /** An `index` table of the (fp, idxCid) pairs the driver holds. */
  def indexTable(spark: SparkSession, fp: Array[UTF8String],
      idxCid: Array[Long]): DataFrame =
    DriverFold.table(spark, IndexSchema, fp.length)(i => Array(fp(i), idxCid(i)))

  /** A `har_sparse` table of the container ids the driver holds. */
  def sparseTable(spark: SparkSession, ids: Array[Long]): DataFrame =
    DriverFold.table(spark, SparseSchema, ids.length)(i => Array(ids(i)))

  /** The first free container id of a store whose containers are the
    * `containerId`s of `df`: one past the highest, 0 for none. */
  def nextCid(df: DataFrame): Long = {
    val r = df.agg(max(col("containerId"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0) + 1L
  }

  /** A committed table of `root` read with its declared schema: no parquet
    * footer-inference job. */
  private def load(spark: SparkSession, root: String, table: String,
      schema: String): DataFrame =
    spark.read.schema(schema).format(TableIO.Format).load(s"$root/$table")

  /** The recipe table `root` holds, if it has committed one. */
  def recipe(spark: SparkSession, root: String): Option[DataFrame] =
    Seq("final_recipe", "recipes").find(t => TableIO.committed(s"$root/$t"))
      .map(load(spark, root, _, RecipeSchema))

  /** The committed `har_sparse` table of `root`. */
  def sparse(spark: SparkSession, root: String): DataFrame =
    load(spark, root, "har_sparse", SparseSchema)

  /** What a backup inherits from the chain before it: its id, the
    * fingerprint index, the previous job's trimmed HAR sparse list and the
    * first free container id. */
  final case class State(backupId: Long, index: DataFrame, sparse: DataFrame,
      nextCid: Long) {
    /** The backup's stream label. */
    def label: String = s"b$backupId"

    /** The state the next backup inherits once `job` has run on this one. */
    def after(job: TraceJobResult): State = State(backupId + 1L,
      job.newIndex, job.sparse, nextCid + job.stats.containers_written)
  }

  /** The first backup's state. */
  def empty(spark: SparkSession): State = State(1L,
    indexTable(spark, Array.empty, Array.empty), sparseTable(spark, Array.empty),
    0L)

  /** The state a backup chained from the committed root `root` inherits:
    * its `index`, its `har_sparse` (none in an expire root: compaction
    * invalidates the monitor state, as the reference rebuilds its monitor
    * from post-delete containers), and two scalars read in ONE
    * aggregate. Every written container holds someone's latest copy, so
    * the index max is the high-water container id. The backup id follows
    * the max "bN" label in the root's recipe table, which the resumability
    * contract keeps (a hard kill can lose the metrics rows, and a guessed
    * id would duplicate a label that expire-by-label later deletes); only a
    * zero-row recipe (an empty backup) falls back to the metrics
    * `backup_id` row. Neither present ⇒ fail loudly.
    */
  def fromRoot(spark: SparkSession, root: String): State = {
    require(TableIO.committed(s"$root/index"),
      s"prevRoot $root has no committed index stage — chain only from a " +
        "completed backup() root")
    val index = load(spark, root, "index", IndexSchema)
    val sparseList =
      if (TableIO.committed(s"$root/har_sparse")) sparse(spark, root)
      else sparseTable(spark, Array.empty)
    val noId = lit(null).cast("long")
    val labels = recipe(spark, root).toSeq.map(r =>
      r.select(noId.as("cid"), backupId(col("stream")).as("bid")))
    val ids = (index.select(col("idxCid").as("cid"), noId.as("bid")) +:
        labels).reduce(_ union _)
      .agg(max(col("cid")), max(col("bid"))).head()
    val nextCid = if (ids.isNullAt(0)) 0L else ids.getLong(0) + 1L
    val fromLabels = if (ids.isNullAt(1)) None else Some(ids.getLong(1) + 1L)
    lazy val fromMetrics =
      try spark.read.format(TableIO.Format).load(s"$root/metrics")
        .filter(col("stage") === "backup" && col("metric") === "backup_id")
        .agg(max(col("value"))).head() match {
        case r if r.isNullAt(0) => None
        case r => Some(r.getDouble(0).toLong + 1L)
      }
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val next = fromLabels.orElse(fromMetrics).getOrElse(
      throw new IllegalStateException(
        s"prevRoot $root has neither 'bN' stream labels in its recipe " +
          "table nor a backup_id metrics row — cannot derive the next " +
          "backup id"))
    State(next, index, sparseList, nextCid)
  }
}
