package graft.pipeline

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The driver side of a size fork: destor runs its store step and its
  * graph labelling as sequential folds on one node (src/filter_phase.c,
  * src/rewrite_phase.c), and a stage whose input is small runs the same
  * fold on the driver, saving the jobs of its distributed plan.
  * [[collect]] reads the input, or finds it too large, in ONE Spark job;
  * [[table]] hands each result back to Spark with none.
  *
  * '''The driver budget.''' A driver path holds at most about 80 MB, 8%
  * of spark-submit's default 1 GiB `spark.driver.memory`. Each stage's
  * cap ([[TracePipeline.LocalCap]], [[ConnectedComponents.LocalEdgeCap]])
  * is a row count whose measured bytes per row fit this budget; above it
  * the stage runs distributed.
  */
object DriverFold {

  /** A collected plan, one array per column: `Array[Long]` for bigint,
    * `Array[Int]` for int, `Array[UTF8String]` for string (equal strings
    * in a run of rows share one object). */
  final class Columns private[DriverFold] (val rows: Int, cols: Array[AnyRef])
      extends Serializable {
    def longs(i: Int): Array[Long] = cols(i).asInstanceOf[Array[Long]]
    def ints(i: Int): Array[Int] = cols(i).asInstanceOf[Array[Int]]
    def strings(i: Int): Array[UTF8String] = cols(i).asInstanceOf[Array[UTF8String]]
  }

  /** A column's builder; an `Array[Any]` cast fails on a primitive array. */
  private def builder(t: DataType): ArrayBuilder[_] = t match {
    case LongType => new ArrayBuilder.ofLong
    case IntegerType => new ArrayBuilder.ofInt
    case StringType => new ArrayBuilder.ofRef[UTF8String]
    case _ => throw new IllegalArgumentException(
      s"DriverFold.collect reads bigint, int and string columns, not $t")
  }

  /** The rows of `plan` (non-null bigint, int and string columns) when it
    * holds at most `cap` of them, else None, in ONE job: a root limit's
    * RDD is the CollectLimit shuffle into one partition (collect() runs a
    * job per batch of partitions), and its one task stops reading past
    * the cap and drops what it read, so no row of a larger plan reaches
    * the driver. The optimizer drops the limit of a plan it knows to hold
    * at most cap + 1 rows; one task then reads its partitions in turn. */
  def collect(plan: DataFrame, cap: Int): Option[Columns] = {
    require(cap >= 0 && cap < Int.MaxValue, s"cap $cap outside [0, Int.MaxValue)")
    val types = plan.schema.fields.map(_.dataType)
    types.foreach(builder) // an unsupported column type fails here, on the driver
    def columns(n: Int, cols: Array[ArrayBuilder[_]]) =
      new Columns(n, cols.map(_.result(): AnyRef))
    plan.limit(cap + 1).queryExecution.toRdd.coalesce(1).mapPartitions { it =>
      val cols = types.map(builder)
      // a row's strings point into a reused buffer: copy a string once per
      // run of equal values, so a file's chunks share one path
      val last = new Array[Any](cols.length)
      var n = 0
      it.take(cap + 1).foreach { r =>
        cols.indices.foreach { c =>
          val v = r.get(c, types(c))
          if (v != last(c))
            last(c) = v match { case s: UTF8String => s.clone(); case x => x }
          cols(c).asInstanceOf[ArrayBuilder[Any]] += last(c)
        }
        n += 1
      }
      Iterator.single(Option.when(n <= cap)(columns(n, cols)))
    }.collect().headOption.getOrElse(Some(columns(0, types.map(builder))))
  }

  /** A table of `n` rows the driver holds, with no Spark job and no
    * encoder: `row(i)` gives row i's values in the order of the DDL
    * `schema`, as Catalyst holds them (a string as a `UTF8String`). Spark
    * slices it over its default parallelism; a one-file write coalesces. */
  def table(spark: SparkSession, schema: String, n: Int)(
      row: Int => Array[Any]): DataFrame =
    GraftColumnBridge.dataFrame(spark, LocalRelation(
      DataTypeUtils.toAttributes(StructType.fromDDL(schema)),
      Seq.tabulate[InternalRow](n)(i => new GenericInternalRow(row(i)))))
}
