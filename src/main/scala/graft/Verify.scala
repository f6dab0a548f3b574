package graft
import graft.obs.Measure
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Optional third arg (local iteration only): substring filter on names.
  * Before the first query it writes `verify_stamp.json`, the names the
  * run selected; `scripts/check_oracle.py` checks exactly those and counts
  * an output older than the stamp (a query that threw) as missing.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val filter = if (args.length > 2) args(2) else ""
    val spark = Measure.session(Measure.envCpus(4))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter(_._1.contains(filter))
    Files.writeString(Paths.get(s"$outDir/verify_stamp.json"),
      selected.map(e => q(e._1)).mkString("{\"selected\": [", ",", "]}"))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
