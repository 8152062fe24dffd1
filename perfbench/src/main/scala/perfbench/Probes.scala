package perfbench

import graft.rc.{Esn, Rls}
import graft.text.{SplitMix64, TextAlgs}
import graft.vec.VecAlgs
import org.apache.spark.sql.SparkSession

/** Kernel probes of the traced run: fixed-size loops over seeded inputs
  * that time one kernel each, from outside, through its public function.
  * Each reports the best of `Reps` repetitions, the figure least disturbed
  * by the rest of the machine.
  */
object Probes {
  val Reps = 3
  /** Vectors per side of the SQL-function cross joins (N x N pairs). */
  val Side = 1000
  val Dim = 64

  def run(s: SparkSession, seed: Long, tracer: Tracer): Map[String, Double] = {
    val rng = new SplitMix64(seed ^ 0x5eedL)
    val vecs = Array.fill(Side)(Array.fill(Dim)((rng.nextDouble() * 2 - 1).toFloat))
    val sets = Array.fill(Side)(
      Array.fill(64)(rng.nextLong() >>> 54).distinct.sorted)
    val docs = Array.fill(2000)(Seq.fill(150)(s"w${(rng.nextLong() >>> 49) % 30000}"))
    val pairs = Side.toDouble * Side

    import s.implicits._
    val va = vecs.toSeq.toDF("a").persist()
    val vb = vecs.toSeq.toDF("b").persist()
    val la = sets.toSeq.toDF("a").persist()
    val lb = sets.toSeq.toDF("b").persist()
    Seq(va, vb, la, lb).foreach(_.count())
    def sql(name: String, l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame, expr: String): Double =
      best(tracer, name)(l.crossJoin(r).selectExpr(s"sum($expr)").collect()) *
        1e6 / pairs
    val out = Map(
      "functions.fvdot_ns_per_pair" -> sql("fvdot", va, vb, "fvdot(a, b)"),
      "functions.fvl2_ns_per_pair" -> sql("fvl2", va, vb, "fvl2(a, b)"),
      "functions.lixsize_ns_per_pair" -> sql("lixsize", la, lb, "lixsize(a, b)"),
      "text.minhash_us_per_doc" ->
        best(tracer, "minhash")(docs.foreach(TextAlgs.minhash(_))) * 1e3 / docs.length,
      "vec.cosine_ns_per_pair" -> {
        val dv = vecs.map(_.map(_.toDouble))
        var sink = 0.0
        best(tracer, "cosine") {
          var i = 0
          while (i < Side) {
            var j = 0
            while (j < Side) { sink += VecAlgs.cosine(dv(i), dv(j)); j += 1 }
            i += 1
          }
        } * 1e6 / pairs
      },
      "rc.esn_step_ns" -> {
        val mats = Esn.matrices()
        val steps = 100000
        best(tracer, "esn_step") {
          var x = new Array[Double](Esn.Nx)
          var t = 0
          while (t < steps) { x = Esn.step(mats, x, (t % 50) / 100.0); t += 1 }
        } * 1e6 / steps
      },
      "rc.rls_update_ns" -> {
        val d = 2 + Esn.Nx
        val phis = Array.fill(256)(Array.fill(d)(rng.nextDouble() - 0.5))
        val updates = 20000
        best(tracer, "rls_update") {
          var st = Rls.init(d, 1e-2)
          var t = 0
          while (t < updates) { st = Rls.update(st, phis(t & 255), (t % 7) / 7.0); t += 1 }
        } * 1e6 / updates
      })
    Seq(va, vb, la, lb).foreach(_.unpersist())
    out
  }

  /** Best wall milliseconds of `Reps` runs, each its own probe span. */
  private def best(tracer: Tracer, name: String)(body: => Any): Double =
    (1 to Reps).map { _ =>
      tracer.span(name, "probe") { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e6
      }
    }.min
}
