package graft.perfbench

import graft.StageMemo
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: idle time, the tail rule and the
  * per-query memo windows. Run with `sbt test` from perfbench/. */
class ArithSpec extends AnyFunSuite {

  test("interval union counts overlapping and nested jobs once") {
    assert(Arith.unionLength(Nil) === 0L)
    assert(Arith.unionLength(Seq((0L, 10L), (20L, 25L))) === 15L)
    // overlap: [0,10) and [5,15) cover [0,15)
    assert(Arith.unionLength(Seq((5L, 15L), (0L, 10L))) === 15L)
    // nested: [2,4) inside [0,10), and [3,12) extends it
    assert(Arith.unionLength(Seq((0L, 10L), (2L, 4L), (3L, 12L))) === 12L)
    // touching intervals merge without double counting
    assert(Arith.unionLength(Seq((0L, 5L), (5L, 9L))) === 9L)
    // empty and inverted intervals cover nothing
    assert(Arith.unionLength(Seq((4L, 4L), (9L, 3L))) === 0L)
  }

  test("driver idle time is the pass wall minus the clipped job union") {
    // pass [100, 200): jobs [90,120) straddle the start, [150,160) and
    // [155,158) nest, [190,230) straddles the end
    val jobs = Seq((90L, 120L), (150L, 160L), (155L, 158L), (190L, 230L))
    assert(Arith.idleLength(100L, 200L, jobs) === 100L - 20L - 10L - 10L)
    assert(Arith.idleLength(100L, 200L, Nil) === 100L)
    // a job covering the whole pass leaves no idle time
    assert(Arith.idleLength(100L, 200L, Seq((0L, 500L))) === 0L)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // 90 of 100: ten samples (91..100) lie beyond it
    assert(Arith.tail(xs) === Some((90.0, 90.0)))
    // 11 samples: only the smallest has ten beyond it
    val small = Seq(5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 11.0, 10.0)
    assert(Arith.tail(small) === Some((100.0 / 11, 1.0)))
    // ten or fewer samples support no such percentile
    assert(Arith.tail((1 to 10).map(_.toDouble)) === None)
    // the rule counts samples, not distinct values
    val tied = Seq.fill(30)(7.0) ++ Seq.fill(10)(50.0)
    assert(Arith.tail(tied) === Some((75.0, 7.0)))
  }

  test("median of odd and even sample counts") {
    assert(Arith.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Arith.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
  }

  test("a lap over several passes sums each query's fastest time") {
    val passes = Seq(Map("a" -> 3.0, "b" -> 1.0), Map("a" -> 2.0, "b" -> 4.0),
      Map("a" -> 5.0, "b" -> 1.5))
    assert(Arith.minOfPasses(passes) === 3.0)
    assert(Arith.minOfPasses(passes.take(1)) === 4.0)
  }

  test("memo deltas window the cumulative counters per query") {
    val s0 = StageMemo.Stats(3, 2, 0, Map("a" -> ((1L, 40L))))
    // query 1 builds "b" (which builds "a" again) and hits once
    val s1 = StageMemo.Stats(4, 4, 0, Map("a" -> ((2L, 55L)), "b" -> ((1L, 100L))))
    // query 2 only hits
    val s2 = StageMemo.Stats(6, 4, 1, Map("a" -> ((2L, 55L)), "b" -> ((1L, 100L))))
    val q1 = Arith.memoDelta(s0, s1)
    val q2 = Arith.memoDelta(s1, s2)
    assert(q1 === StageMemo.Stats(1, 2, 0, Map("a" -> ((1L, 15L)), "b" -> ((1L, 100L)))))
    assert(q1.buildMsTotal === 115L)
    assert(q2 === StageMemo.Stats(2, 0, 1, Map.empty))
    // the pass-wide sum of the windows equals the whole window
    assert(Arith.memoSum(Seq(q1, q2)) === Arith.memoDelta(s0, s2))
  }
}
