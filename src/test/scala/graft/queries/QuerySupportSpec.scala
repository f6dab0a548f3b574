package graft.queries

import java.nio.file.{Files, Path, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class QuerySupportSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("par leaves a frame with no input files unchanged") {
    val df = spark.range(100).toDF("id")
    assert(df.inputFiles.isEmpty)
    assert(QuerySupport.par(spark, df, "id") eq df)
  }

  test("par measures a scanned file as it is now, also after an in-place rewrite") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("par")
    def onePart(name: String, df: org.apache.spark.sql.DataFrame): Path = {
      df.coalesce(1).write.parquet(tmp.resolve(name).toString)
      val it = Files.list(tmp.resolve(name))
      try it.filter(_.toString.endsWith(".parquet")).findFirst().get
      finally it.close()
    }
    val small = onePart("small", (0 until 10).toDF("id"))
    val big = onePart("big",
      spark.range(200000).selectExpr("id", "repeat(concat('row ', id, ' '), 4) AS pad"))
    val p = spark.sparkContext.defaultParallelism
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    try {
      // split size chosen so the small file is one split and the big one p
      spark.conf.set(key, Files.size(big) / p)
      assert(Files.size(small) < Files.size(big) / p)
      val f = tmp.resolve("tbl").resolve("data.parquet")
      Files.createDirectories(f.getParent)
      Files.copy(small, f)
      val df = spark.read.parquet(f.getParent.toString)
      assert(QuerySupport.par(spark, df, "id") ne df, "one split: repartitioned")
      Files.copy(big, f, StandardCopyOption.REPLACE_EXISTING)
      assert(QuerySupport.par(spark, df, "id") eq df, "p splits now: unchanged")
    } finally {
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      QuerySupport.deleteRecursively(tmp)
    }
  }
}
