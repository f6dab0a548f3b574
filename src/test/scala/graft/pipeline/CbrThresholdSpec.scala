package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** CBR's rewrite threshold ([[Rewrite.cbrThreshold]]) against a
  * brute-force reading of its definition: the smallest utility whose
  * cumulative count reaches ceil((1 − limit)·n), 0.0 when n = 0.
  */
class CbrThresholdSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def bruteForce(us: Seq[Double], limit: Double): Double =
    if (us.isEmpty) 0.0
    else {
      val k = math.ceil((1.0 - limit) * us.size).toLong
      us.distinct.sorted.find(u => us.count(_ <= u) >= k).get
    }

  private def check(us: Seq[Double], limit: Double): Unit =
    assert(Rewrite.cbrThreshold(us.toDF("utility"), limit)
      === bruteForce(us, limit), s"limit $limit over ${us.sorted}")

  test("the threshold matches the brute-force definition on random utility multisets") {
    val r = new scala.util.Random(7L)
    // utilities on CBR's 1e-6 grid in [0, 1]; a small pool forces ties
    def grid(): Double = r.nextInt(1000001) / 1e6
    var integral = 0; var fractional = 0
    (0 until 40).foreach { i =>
      val n = r.nextInt(60)
      val pool = Vector.fill(1 + r.nextInt(if (i % 2 == 0) 4 else 200))(grid())
      val us = Seq.fill(n)(pool(r.nextInt(pool.size))) ++
        Seq.fill(r.nextInt(3))(0.0) ++ Seq.fill(r.nextInt(3))(1.0)
      val limit = Seq(0.0, 0.05, 1.0, 0.25, r.nextDouble())(i % 5)
      val q = (1.0 - limit) * us.size
      if (q == math.floor(q)) integral += 1 else fractional += 1
      check(us, limit)
    }
    // both roundings of ceil((1 − limit)·n) were exercised
    assert(integral > 0 && fractional > 0)
  }

  test("the threshold's edge cases: n = 0, all-equal, exact 0 and 1, limits 0/0.05/1") {
    for (limit <- Seq(0.0, 0.05, 1.0)) {
      check(Nil, limit) // n = 0 → 0.0
      check(Seq.fill(20)(0.42), limit) // all equal
      check(Seq.fill(7)(0.0) ++ Seq.fill(3)(1.0), limit)
      check(Seq(1.0), limit)
      check(Seq(0.0), limit)
    }
    // (1 − 0.25)·8 = 6 is integral, (1 − 0.25)·7 = 5.25 is not
    check((1 to 8).map(_ / 10.0), 0.25)
    check((1 to 7).map(_ / 10.0), 0.25)
    // limit 1 keeps every row above the threshold: the minimum
    assert(Rewrite.cbrThreshold(Seq(0.3, 0.1, 0.2).toDF("utility"), 1.0)
      === 0.1)
  }
}
