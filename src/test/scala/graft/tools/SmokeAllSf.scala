package graft.tools

import graft.obs.Measure

/** Smoke every registered query at every sf dir (driver runs different
  * sfs per phase). Run: sbt "Test/runMain graft.tools.SmokeAllSf"
  * Optional arg: a substring filter on query names.
  */
object SmokeAllSf {
  def main(args: Array[String]): Unit = {
    val filter = args.headOption.getOrElse("")
    val spark = Measure.session(16, "ERROR")
    var bad = 0
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      graft.Queries.all.toSeq.sortBy(_._1)
        .filter(_._1.contains(filter)).foreach { case (name, fn) =>
        val n = try fn(spark, dir).count()
          catch { case e: Throwable => println(s"[smoke] $sf $name EXC ${e.getMessage.take(100)}"); bad += 1; -1L }
        if (n == 0) { println(s"[smoke] $sf $name EMPTY"); bad += 1 }
      }
      println(s"[smoke] $sf done")
    }
    println(s"[smoke] bad=$bad")
    spark.stop()
  }
}
