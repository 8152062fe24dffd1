package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed client operation. `startMs` is wall-clock epoch time, so
  * spans and Spark listener events share one time base. A sample with
  * `ok = false` threw or failed its output check; it counts in
  * `failed_frac` and in no timing.
  */
final case class Sample(op: String, kind: String, startMs: Double,
    ms: Double, ok: Boolean, rows: Long)

/** The single closed-loop client: the next operation starts only after
  * the previous one has finished and been checked.
  *
  * The timed window covers only `run`; the output check runs after the
  * window closes. An exception from `run` or a failed check marks the
  * sample failed, records the first error per op, and lets the loop go on.
  */
final class Loop(clock: () => Long = () => System.nanoTime()) {
  val samples = ArrayBuffer.empty[Sample]
  val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = clock()

  /** Epoch milliseconds of a `clock()` reading. */
  def epochMs(nanos: Long): Double = epochBaseMs + (nanos - nanoBase) / 1e6

  def now(): Long = clock()

  /** Times `run`, then checks its result outside the timed window.
    * `check` returns None when the output is right, else the reason;
    * `rows` sizes the result for reporting.
    */
  def timed[R](op: String, kind: String = "op")(run: => R)(
      check: R => Option[String], rows: R => Long = (_: R) => 0L): Sample = {
    val t0 = clock()
    val result = try Right(run) catch { case e: Throwable => Left(e) }
    val t1 = clock()
    val (ok, n) = result match {
      case Left(e) =>
        fail(op, s"threw ${e.getClass.getName}: ${e.getMessage}")
        (false, 0L)
      case Right(r) =>
        val verdict =
          try check(r)
          catch { case e: Throwable => Some(s"check threw: $e") }
        verdict.foreach(fail(op, _))
        (verdict.isEmpty, rows(r))
    }
    val s = Sample(op, kind, epochMs(t0), (t1 - t0) / 1e6, ok, n)
    samples += s
    s
  }

  private def fail(op: String, why: String): Unit =
    if (!errors.contains(op)) errors(op) = why.take(500)
}
