package perfbench

import graft.text.SplitMix64
import org.apache.spark.sql.Row

/** Seeded in-memory inputs (the parquet inputs come from `gen.py`). Every
  * value is drawn from a SplitMix64 stream keyed by the seed, so the same
  * seed gives identical inputs in every run and JVM.
  */
object Gen {

  /** One small ingest batch of `rows` rows (id, batch, k, v, p) with
    * globally unique ids. Returns the rows and their checksum (sum of `k`).
    */
  def batch(seed: Long, index: Int, rows: Int): (Seq[Row], Long) = {
    val rng = new SplitMix64(seed * 1000003L + index)
    val out = (0 until rows).map { j =>
      val k = rng.nextLong() >>> 40
      Row(index.toLong * rows + j, index.toLong, k, rng.nextDouble(), s"p${k % 97}")
    }
    (out, out.map(_.getLong(2)).sum)
  }

  /** Keyed NARMA-10 series: per key, a drive u ~ U[0, 0.5) and the
    * tenth-order nonlinear response
    * y(t+1) = 0.3 y(t) + 0.05 y(t) sum_{i<10} y(t-i) + 1.5 u(t-9) u(t) + 0.1.
    * NARMA-10 occasionally diverges; a key whose response leaves [0, 1]
    * draws its next drive from the same stream, so the series stay a pure
    * function of the seed. Samples are (key, t, 0, y(t)), the
    * `RcPipeline.Sample` shape.
    */
  def narma(seed: Long, keys: Int, steps: Int)
      : Seq[(Long, Long, Long, Double)] =
    (0 until keys).flatMap { key =>
      val rng = new SplitMix64(seed * 7919L + key)
      def response(): Array[Double] = {
        val u = Array.fill(steps)(rng.nextDouble() * 0.5)
        val y = new Array[Double](steps)
        var t = 9
        while (t < steps - 1) {
          var s10 = 0.0
          var i = t - 9
          while (i <= t) { s10 += y(i); i += 1 }
          y(t + 1) = 0.3 * y(t) + 0.05 * y(t) * s10 + 1.5 * u(t - 9) * u(t) + 0.1
          t += 1
        }
        y
      }
      val y = Iterator.continually(response())
        .find(_.forall(v => v >= 0 && v <= 1)).get
      (0 until steps).map(t => (key.toLong, t.toLong, 0L, y(t)))
    }
}
