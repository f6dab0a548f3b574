package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Thin checkpointed stage-table layer.
  *
  * Reproduces the Iceberg semantics the pipeline needs in this sandbox —
  * atomic snapshot commit (parquet `_SUCCESS` marker written last by the
  * commit protocol) and resume-by-skip — behind one entry point, so a
  * real Iceberg catalog drops in unchanged (SURVEY.md §7.3: no Iceberg
  * runtime jar ships in /opt/spark/jars and the sandbox is zero-egress).
  *
  * Every stage table carries per-partition lineage: the stage name, the
  * writing task's partition id, and the run id that produced it.
  *
  * The `metrics` table is the run log. It is not part of the resumability
  * contract: a job keeps its rows in memory and appends them in one write
  * per call ([[appendMetrics]]), so a hard kill loses that call's rows.
  */
object TableIO {

  final val Format = "parquet" // swap for "iceberg" with a catalog

  /** One run-log row: `value` of `metric` for `stage`, recorded at `ts`. */
  final case class Metric(stage: String, metric: String, value: Double,
      ts: java.sql.Timestamp)

  def committed(path: String): Boolean =
    new java.io.File(s"$path/_SUCCESS").exists()

  /** Compute-or-load a stage table. On resume, a committed stage is read
    * back and its compute is never invoked. A fresh stage is read back
    * with the schema it just wrote, so only a resumed stage pays for the
    * footer-inference job; the file source makes every field nullable
    * either way, so both paths return the same schema.
    */
  def stage(spark: SparkSession, root: String, name: String, runId: String)(
      compute: => DataFrame): DataFrame = {
    val path = s"$root/$name"
    if (committed(path)) spark.read.format(Format).load(path)
    else {
      val out = compute
        .withColumn("_lineage",
          struct(lit(name).as("stage"), spark_partition_id().as("part"),
            lit(runId).as("runId")))
      out.write.mode("overwrite").format(Format).save(path)
      spark.read.schema(out.schema).format(Format).load(path)
    }
  }

  /** Append run-log rows in one write (the reference's backup.log /
    * destor.stat, src/do_backup.c:155-186, src/destor.c:134-213). Columns:
    * metric, value, runId, stage, ts.
    */
  def appendMetrics(spark: SparkSession, root: String, runId: String,
      rows: Seq[Metric]): Unit = {
    import spark.implicits._
    rows.toDS()
      .select($"metric", $"value", lit(runId).as("runId"), $"stage", $"ts")
      .write.mode("append").format(Format).save(s"$root/metrics")
  }
}
