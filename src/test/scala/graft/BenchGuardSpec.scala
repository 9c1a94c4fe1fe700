package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's in-run timing rule: min of two runs, a third only on a >3×
  * disagreement, failures never winning the min, and failed lines kept
  * out of the headline total but counted. */
class BenchGuardSpec extends AnyFunSuite {

  /** A run function replaying scripted outcomes, counting its calls. */
  private final class Script(outcomes: Option[Double]*) {
    private val it = outcomes.iterator
    var calls = 0
    val run: () => Option[Double] = () => { calls += 1; it.next() }
  }

  test("a third run happens only when the two timings differ by more than 3x") {
    val close = new Script(Some(1.0), Some(2.9))
    assert(Bench.timeLine("close", close.run) == 1.0)
    assert(close.calls == 2)
    val exact = new Script(Some(1.0), Some(3.0))
    assert(Bench.timeLine("exact", exact.run) == 1.0)
    assert(exact.calls == 2, "exactly 3x is not more than 3x")
    val apart = new Script(Some(4.0), Some(1.0), Some(0.5))
    assert(Bench.timeLine("apart", apart.run) == 0.5)
    assert(apart.calls == 3)
    val spike = new Script(Some(9.0), Some(2.0), Some(5.0))
    assert(Bench.timeLine("spike", spike.run) == 2.0, "the third run only joins the min")
  }

  test("a failed run never wins the minimum") {
    assert(Bench.best(Seq(None, Some(2.5))) == 2.5)
    assert(Bench.best(Seq(Some(7.0), None, Some(3.0))) == 3.0)
    // One failure leaves one timing: no >3x comparison, so no third run.
    val oneFails = new Script(None, Some(4.0))
    assert(Bench.timeLine("one_fails", oneFails.run) == 4.0)
    assert(oneFails.calls == 2)
  }

  test("a line that fails every run reports -1, stays out of total, and counts as failed") {
    val allFail = new Script(None, None)
    assert(Bench.timeLine("all_fail", allFail.run) == -1.0)
    assert(Bench.best(Seq(None, None)) == -1.0)
    val (total, failed) = Bench.totals(Seq("a" -> 1.5, "all_fail" -> -1.0, "b" -> 0.25))
    assert(total == 1.75)
    assert(failed == 1)
  }

  test("probeMs measures real work") {
    val p = Bench.probeMs()
    assert(p > 1.0 && p < 60000.0, s"probe out of sane range: $p ms")
  }
}
