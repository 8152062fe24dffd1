package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite {

  /** A clock that advances 5 ms per reading, so every op "takes" 5 ms. */
  private def stepClock(): () => Long = {
    var t = 0L
    () => { t += 5000000L; t }
  }

  test("an injected throwing op and an injected wrong-result op both count " +
      "as failed, and only the good op is timed as a success") {
    val loop = new Loop(stepClock())
    val want = Array(Row(1L, "a"), Row(2L, "b"))
    val good = loop.timed("good")(want.clone())(Workload.sameRows(_, want))
    val throws = loop.timed[Array[Row]]("throws")(
      throw new IllegalStateException("boom"))(Workload.sameRows(_, want))
    val wrong = loop.timed("wrong")(Array(Row(1L, "a"), Row(2L, "x")))(
      Workload.sameRows(_, want))

    assert(good.ok && !throws.ok && !wrong.ok)
    assert(loop.samples.count(!_.ok) == 2)
    assert(loop.errors.keySet == Set("throws", "wrong"))
    assert(loop.errors("throws").contains("boom"))
    assert(loop.errors("wrong").contains("row 1 differs"))
  }

  test("the output check runs outside the timed window") {
    val loop = new Loop(stepClock())
    // a check that reads the clock many times must not lengthen the sample
    val s = loop.timed("op")(42)(_ => { (1 to 100).foreach(_ => loop.now()); None })
    assert(s.ok && s.ms == 5.0)
  }

  test("sameRows tolerates only last-bit floating noise") {
    val a = Array(Row(1.0, Seq(2.0f)))
    assert(Workload.sameRows(Array(Row(1.0 + 1e-12, Seq(2.0f))), a).isEmpty)
    assert(Workload.sameRows(Array(Row(1.001, Seq(2.0f))), a).nonEmpty)
    assert(Workload.sameRows(Array.empty[Row], a).nonEmpty)
  }
}
