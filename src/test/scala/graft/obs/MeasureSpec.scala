package graft.obs

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness on a scripted clock and CPU counter. It starts
  * no session: the suites share one test JVM and [[graft.SparkTestSession]].
  */
class MeasureSpec extends AnyFunSuite {

  /** A cumulative counter that each `spend` advances. */
  private final class FakeCpu {
    var sec = 0.0
    def spend(s: Double): Unit = sec += s
  }

  test("best-of-K returns the least wall time with that run's own CPU") {
    val cpu = new FakeCpu
    // (wall, cpu) per run: the fastest run is not the cheapest one
    val runs = Iterator((3.0, 1.0), (1.0, 5.0), (2.0, 2.0))
    val best = Measure.bestOf(3, cpuSec = () => cpu.sec) {
      val (wall, c) = runs.next()
      cpu.spend(c)
      (s"run@$wall", wall)
    }
    assert(best == Measure.Sample("run@1.0", 1.0, 5.0))
  }

  test("the warm-up runs once, first, and is never counted") {
    val cpu = new FakeCpu
    val log = ArrayBuffer.empty[String]
    val best = Measure.bestOf(2, { log += "warm"; cpu.spend(100.0) },
        () => cpu.sec) {
      log += "run"
      cpu.spend(3.0)
      ((), 4.0)
    }
    assert(log == Seq("warm", "run", "run"))
    assert(best.cpuSec == 3.0 && best.wallSec == 4.0)
  }

  test("timed reads the wall time off the clock it is given") {
    val ticks = Iterator(5000000000L, 7500000000L)
    assert(Measure.timed("x", () => ticks.next()) == ("x", 2.5))
  }

  test("interleaved rounds alternate which leg runs first") {
    val log = ArrayBuffer.empty[String]
    var n = 0
    def leg(name: String): () => String =
      () => { n += 1; log += name; s"$name$n" }
    val (as, bs) = Measure.interleaved(4, leg("a"), leg("b"),
      () => log += "end")
    assert(log.filter(_ != "end") == Seq("a", "b", "b", "a", "a", "b", "b", "a"))
    assert(log.count(_ == "end") == 8 && log.head == "a" && log(1) == "end")
    assert(as == Seq("a1", "a4", "a5", "a8") && bs == Seq("b2", "b3", "b6", "b7"))
  }

  test("the master is local[cpus] unless a caller or spark-submit sets it") {
    def master(caller: Map[String, String], props: Map[String, String]) =
      Measure.confs(8, caller, props).get("spark.master")
    val cluster = "spark://head:7077"
    assert(master(Map.empty, Map.empty).contains("local[8]"))
    assert(master(Map("spark.master" -> "local[2]"), Map.empty)
      .contains("local[2]"))
    // spark-submit --master sets the system property: the builder must not
    // override it
    assert(master(Map.empty, Map("spark.master" -> cluster)).isEmpty)
    assert(master(Map("spark.master" -> "local[2]"),
      Map("spark.master" -> cluster)).isEmpty)
    val confs = Measure.confs(8, Map.empty,
      Map("spark.sql.shuffle.partitions" -> "64"))
    assert(!confs.contains("spark.sql.shuffle.partitions"))
    assert(confs("spark.sql.session.timeZone") == "UTC")
  }
}
