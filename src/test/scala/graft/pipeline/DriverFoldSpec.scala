package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.withJobs

/** [[DriverFold.collect]] returns a plan's rows iff it holds at most
  * `cap` of them, in exactly one Spark job, whether the limit reaches the
  * physical plan (one CollectLimit partition) or the optimizer drops it
  * (the plan's own partitions, counted together by one task). */
class DriverFoldSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Cap = 10

  private def collectOnce(plan: DataFrame): Option[DriverFold.Columns] = {
    val (r, jobs) = withJobs(DriverFold.collect(plan, Cap))
    assert(jobs === 1, "one Spark job per bounded collect")
    r
  }

  /** The partitions the bounded collect's plan reads from. */
  private def partitionsOf(plan: DataFrame): Int =
    plan.limit(Cap + 1).queryExecution.toRdd.getNumPartitions

  /** The even ids below `2 * n` over 3 partitions; the filter hides the
    * row count from the optimizer, so the limit stays in the plan. */
  private def evens(n: Int): DataFrame =
    spark.range(0, 2L * n, 1, 3).toDF().filter(col("id") % 2 === 0)

  test("exactly cap rows: every row, each column typed") {
    val plan = evens(Cap).select(col("id"), (col("id") / 2).cast("int"),
      concat(lit("p"), (col("id") / 4).cast("long").cast("string")))
    val c = collectOnce(plan).get
    assert(c.rows === Cap)
    val got = (0 until Cap).map(i =>
      (c.longs(0)(i), c.ints(1)(i), c.strings(2)(i).toString))
    assert(got.sorted === (0 until Cap).map(i => (2L * i, i, s"p${i / 2}")))
  }

  test("cap + 1 rows in one partition: None") {
    assert(partitionsOf(evens(Cap + 1)) === 1, "the limit's one partition")
    assert(collectOnce(evens(Cap + 1)).isEmpty)
  }

  test("cap + 1 rows, every partition under the cap: None by their sum") {
    // a local relation's row count is known, so its limit is dropped and
    // its rows arrive evenly sliced over several partitions
    val plan = (0L to Cap.toLong).toDF("id")
    assert(partitionsOf(plan) > 1)
    assert(collectOnce(plan).isEmpty)
  }

  test("a plan whose row count the optimizer knows: None") {
    assert(collectOnce(spark.range(Cap + 1).toDF()).isEmpty)
  }

  test("an empty plan: an empty result") {
    val c = collectOnce(evens(Cap).filter(col("id") < 0)).get
    assert(c.rows === 0 && c.longs(0).isEmpty)
  }

  test("a driver table is built with no job") {
    val fps = Array("a", "b", "a").map(UTF8String.fromString)
    val (t, jobs) = withJobs(DriverFold.table(spark, "fp STRING, n BIGINT",
      fps.length)(i => Array(fps(i), i.toLong)))
    assert(jobs === 0)
    assert(t.as[(String, Long)].collect().toSeq ===
      Seq(("a", 0L), ("b", 1L), ("a", 2L)))
  }
}
