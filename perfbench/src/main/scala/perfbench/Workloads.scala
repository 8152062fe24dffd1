package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.rc.{Esn, RcPipeline}
import graft.sources.SnapTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** What a workload shares with the rest of the run. `extra` holds
  * workload results for the report, `layer` per-layer numbers only the
  * workload can see (file sizes, quality), and `oracle` the SQL the
  * reporter replays in DuckDB over `dataDir` against the warm-up outputs
  * written under `outDir`.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val loop: Loop) {
  /** Set once the warm-up is over, and only in the traced run. */
  var tracer: Option[Tracer] = None
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val oracle = mutable.LinkedHashMap.empty[String, String]
  val dataDir: Path = work.resolve("data")
  val outDir: Path = work.resolve("out")

  /** A root span around one client op when tracing; -1 otherwise. */
  def op[R](name: String)(body: Int => R): R = tracer match {
    case Some(t) => t.span(name, "op")(body)
    case None => body(-1)
  }

  /** A child span of op span `parent` when tracing. */
  def phase[R](name: String, parent: Int)(body: => R): R = tracer match {
    case Some(t) if parent >= 0 => t.span(name, name, parent)(_ => body)
    case _ => body
  }

  /** Plans `df` inside a "plan" span, so a phase that follows runs it. */
  def plan(df: org.apache.spark.sql.Dataset[_], parent: Int): Unit =
    phase("plan", parent)(df.queryExecution.executedPlan)

  /** Records the plan census of an executed query on its op span. */
  def census(df: org.apache.spark.sql.Dataset[_], parent: Int): Unit =
    tracer.filter(_ => parent >= 0).foreach { t =>
      val (shuffles, broadcasts) = PlanCensus(df)
      t.attr(parent, "exchanges", shuffles)
      t.attr(parent, "broadcasts", broadcasts)
    }
}

trait Workload {
  /** Generates inputs and runs the untimed warm-up pass. */
  def prepare(c: Ctx): Unit

  /** The closed loop of a run of `seconds`. */
  def measure(c: Ctx, seconds: Double): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "olap_tpch" => new QueryPass(OlapOps)
    case "dedup_search" => new QueryPass(DedupOps)
    case "snap_ingest" => new SnapIngest(SnapIngest.WarmCommits, None)
    case "rc_forecast" => new RcForecast(RcKeys, RcSteps, RcForecast.WarmPasses, None)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val OlapOps: Seq[String] = "agg_pricing_summary" +: Seq(
    "q2_min_cost_supplier", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier", "q6_forecast_revenue", "q7_volume_shipping",
    "q8_market_share", "q9_product_profit", "q10_returned_items",
    "q11_value_concentration", "q12_late_shipping",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_counts", "q17_small_qty_revenue", "q18_large_customers",
    "q19_disjunctive_pred", "q20_excess_supply", "q21_waiting_supplier",
    "q22_dormant_customers")

  val DedupOps = Seq("text_dedup_minhash", "text_dedup_near_split",
    "text_bm25_topk", "vec_knn_cosine", "vec_neardup_cosine", "vec_semdedup",
    "hybrid_rrf_serve", "dedup_crossmodal_cc")

  /** Sized so one pass takes about 1.3 s on local[4], of which the fold
    * and Gram tasks run ~0.6 s. At 16 × 1,000 a pass was ~0.3 s of mostly
    * per-job driver work that kept speeding up for 100+ passes as the JIT
    * compiled Spark's driver path. */
  val RcKeys = 128
  val RcSteps = 2000

  /** Row-by-row equality with a relative tolerance on floating values. */
  def sameRows(got: Array[Row], want: Array[Row]): Option[String] =
    if (got.length != want.length)
      Some(s"${got.length} rows, reference has ${want.length}")
    else got.indices.find(i => !same(got(i), want(i)))
      .map(i => s"row $i differs: ${got(i)} vs reference ${want(i)}")

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => close(x, y)
    case (x: Float, y: Float) => close(x.toDouble, y.toDouble)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.iterator.zip(y.iterator).forall { case (p, q) => same(p, q) }
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      val ym = y.asInstanceOf[scala.collection.Map[Any, Any]]
      x.size == y.size && x.forall { case (k, v) => ym.get(k).exists(same(v, _)) }
    case _ => a == b
  }

  private def close(x: Double, y: Double): Boolean =
    x == y || (x.isNaN && y.isNaN) ||
      math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
}

/** `olap_tpch` and `dedup_search`: whole passes over a fixed list of
  * `SparkEntry.queries` ops. Each result is collected in full inside the
  * timed window, so no column or join can be pruned away; it is then
  * compared with the warm-up pass's result, and the warm-up result itself
  * is checked against the op's DuckDB oracle by the reporter.
  */
final class QueryPass(names: Seq[String]) extends Workload {
  private val reference = mutable.HashMap.empty[String, Array[Row]]

  def prepare(c: Ctx): Unit = {
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(c.spark, c.dataDir.toString)
        val rows = df.collect()
        reference(n) = rows
        SparkEntry.oracleSql.get(n).foreach { sql =>
          c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.parquet(c.outDir.resolve(n).toString)
          c.oracle(n) = sql
        }
      } catch {
        case e: Exception =>
          c.loop.errors.getOrElseUpdate(n, s"warm-up threw $e".take(500))
      }
    }
  }

  /** Whole passes, at least one, until `seconds` have passed: every op is
    * equally represented in every run. */
  def measure(c: Ctx, seconds: Double): Unit = {
    val deadline = c.loop.now() + (seconds * 1e9).toLong
    do names.foreach(n => runOne(c, n))
    while (c.loop.now() < deadline)
  }

  private def runOne(c: Ctx, n: String): Unit = {
    val fn = SparkEntry.queries(n)
    c.loop.timed(n) {
      c.op(n) { id =>
        val df = c.phase("build", id)(fn(c.spark, c.dataDir.toString))
        c.plan(df, id)
        val rows = c.phase("run", id)(df.collect())
        c.census(df, id)
        rows
      }
    }(rows => reference.get(n) match {
      case Some(want) => Workload.sameRows(rows, want)
      case None => Some("no warm-up reference")
    }, _.length.toLong)
  }
}

/** `snap_ingest`: one client committing small seeded batches into one
  * fresh table with `appendOnce`. Every `DupEvery`-th commit re-delivers an
  * already-landed txn id (it must be a no-op), every `ReadEvery`-th reads
  * the head snapshot and checks it in full, and every `DrainEvery`-th
  * drains the DSv2 streaming tail with `Trigger.AvailableNow`. The log
  * grows through the run, so a commit cost that grows with log length
  * shows in the late commits.
  */
final class SnapIngest(warmCommits: Int, fixedCommits: Option[Int])
    extends Workload {
  import SnapIngest._

  /** The commits of a run: `CommitsPerSecond` per second of the run, a
    * fixed count for a given `--seconds`, so every run of the same length
    * ends at the same log length. */
  private def commitsFor(seconds: Double): Int =
    fixedCommits.getOrElse(math.max(DrainEvery, math.round(seconds * CommitsPerSecond).toInt))

  private var root: Path = _
  private var ckpt: Path = _
  private var table = ""
  private var expectRows = 0L
  private var expectSum = 0L
  private var drained = 0L
  private val latestMs = mutable.ArrayBuffer.empty[Double]

  def prepare(c: Ctx): Unit = {
    val wh = c.work.resolve("wh")
    c.spark.conf.set("spark.sql.catalog.pb", classOf[graft.sources.SnapCatalog].getName)
    c.spark.conf.set("spark.sql.catalog.pb.root", wh.toString)
    // warm-up on a throwaway table: same verbs, same sizes
    val warm = new SnapIngest(0, None)
    warm.open(c, wh, "warm")
    val warmLoop = new Loop()
    (0 until warmCommits).foreach(i => warm.step(c, warmLoop, i))
    warmLoop.errors.headOption.foreach { case (op, why) =>
      c.loop.errors.getOrElseUpdate(op, s"warm-up: $why") }
    open(c, wh, "t")
  }

  private def open(c: Ctx, wh: Path, name: String): Unit = {
    table = name
    root = wh.resolve("db").resolve(name)
    ckpt = c.work.resolve(s"ckpt_$name")
    SnapTable.createEmpty(root.toString, Schema, "id")
  }

  def measure(c: Ctx, seconds: Double): Unit = {
    (0 until commitsFor(seconds)).foreach(i => step(c, c.loop, i))
    c.extra("rows_committed") = expectRows
    c.extra("stored_bytes_per_row") = dirBytes(root).toDouble / math.max(1L, expectRows)
    if (c.tracer.isDefined) {
      val manifests = files(root.resolve("_log"), ".json")
      c.layer("sources.log_bytes") = manifests.map(Files.size).sum.toDouble
      c.layer("sources.manifest_bytes_last") =
        Files.size(manifests.maxBy(_.getFileName.toString)).toDouble
      c.layer("sources.data_files") = files(root.resolve("data"), ".parquet").size.toDouble
      c.layer("sources.latest_version_ms") = median(latestMs.toSeq)
    }
  }

  /** Client step `i`: one commit, then the re-delivery, read and drain
    * that fall due on it.
    */
  private def step(c: Ctx, loop: Loop, i: Int): Unit = {
    val (rows, ksum) = Gen.batch(c.seed, i, Rows)
    val want = i + 2 // v1 is the empty create
    val s = loop.timed("commit", "commit") {
      c.op("commit") { id =>
        val df = c.phase("build", id)(c.spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), Schema))
        c.phase("run", id)(SnapTable.appendOnce(c.spark, root.toString, df, s"b$i"))
      }
    }(v => if (v == want) None else Some(s"commit landed at v$v, expected v$want"),
      _ => rows.size.toLong)
    if (s.ok) { expectRows += rows.size; expectSum += ksum }
    if (c.tracer.isDefined) {
      val t0 = System.nanoTime()
      SnapTable.latestVersion(root.toString)
      latestMs += (System.nanoTime() - t0) / 1e6
    }
    if (i % DupEvery == DupEvery - 1) {
      val j = i - DupEvery / 2
      loop.timed("dup_commit", "dup") {
        c.op("dup_commit") { id =>
          val df = c.phase("build", id)(c.spark.createDataFrame(
            java.util.Arrays.asList(Gen.batch(c.seed, j, Rows)._1: _*), Schema))
          c.phase("run", id)(SnapTable.appendOnce(c.spark, root.toString, df, s"b$j"))
        }
      }(v => if (v == j + 2 && SnapTable.latestVersion(root.toString) == want) None
        else Some(s"re-delivered b$j returned v$v"), _ => 0L)
    }
    if (i % ReadEvery == ReadEvery - 1) {
      loop.timed("read", "read") {
        c.op("read") { id =>
          val df = c.phase("build", id)(SnapTable.read(c.spark, root.toString)
            .agg(count(lit(1)), sum(col("k")), count_distinct(col("id"))))
          c.plan(df, id)
          val row = c.phase("run", id)(df.collect().head)
          c.census(df, id)
          row
        }
      }(r => {
        val got = (r.getLong(0), r.getLong(1), r.getLong(2))
        if (got == ((expectRows, expectSum, expectRows))) None
        else Some(s"head read (rows, sum k, distinct ids) = $got, " +
          s"expected ($expectRows, $expectSum, $expectRows)")
      }, _ => 1L)
    }
    if (i % DrainEvery == DrainEvery - 1) {
      val before = drained
      loop.timed("drain", "drain") {
        c.op("drain") { id => c.phase("run", id)(drain(c, id)) }
      }(n => if (before + n == expectRows) None
        else Some(s"drain brought the tail to ${before + n} rows, " +
          s"expected $expectRows"), identity)
    }
  }

  /** One `AvailableNow` run of the table's DSv2 streaming tail; returns
    * the rows it delivered. */
  private def drain(c: Ctx, id: Int): Long = {
    val got = new java.util.concurrent.atomic.AtomicLong
    val q = c.spark.readStream.table(s"pb.db.$table")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => got.addAndGet(b.count()); () }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    c.tracer.filter(_ => id >= 0).foreach { t =>
      val ps = q.recentProgress
      t.attr(id, "drain_batches", ps.length)
      t.attr(id, "drain_rows", ps.map(_.numInputRows).sum)
    }
    drained += got.get
    got.get
  }
}

object SnapIngest {
  /** Commits that bring the JIT close to steady state before timing. */
  val WarmCommits = 20
  val CommitsPerSecond = 2.5
  val Rows = 100
  val DupEvery = 10
  val ReadEvery = 10
  val DrainEvery = 10

  val Schema: org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("batch", "long").add("k", "long")
      .add("v", "double").add("p", "string")

  /** Regular files under `dir` whose names end with `suffix`. */
  def files(dir: Path, suffix: String = ""): Seq[Path] = {
    val st = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix)).toList
    } finally st.close()
  }

  def dirBytes(dir: Path): Long = files(dir).map(Files.size).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** `rc_forecast`, the paper's core: repeated fit-and-score passes of the
  * `RcPipeline` over seeded keyed NARMA-10 series. One pass designs the
  * ESN states (persisted), fits the ridge readout from the Gram matrix on
  * the first 80% of every key, scores the held-out tail per key and
  * reduces the per-key errors to one NMSE.
  */
final class RcForecast(keys: Int, steps: Int, warmPasses: Int,
    fixedPasses: Option[Int]) extends Workload {
  import RcForecast._

  private var series: org.apache.spark.sql.Dataset[RcPipeline.Sample] = _
  private var variance = 0.0
  private var reference = Double.NaN
  private val mats = Esn.matrices()

  def prepare(c: Ctx): Unit = {
    import c.spark.implicits._
    val data = Gen.narma(c.seed, keys, steps)
    series = data.toDS().repartition(c.spark.sparkContext.defaultParallelism)
      .persist()
    series.count()
    // variance of the scored targets: the tail after each key's train cut
    val tail = data.groupBy(_._1).values.flatMap { rs =>
      val cut = RcPipeline.trainCut(rs.size, Horizon, TrainFrac)
      rs.sortBy(_._2).drop(1).drop(cut.toInt).map(_._4)
    }.toSeq
    val mean = tail.sum / tail.size
    variance = tail.map(v => (v - mean) * (v - mean)).sum / tail.size
    // the last warm-up pass is the reference every timed pass must agree with
    reference = (1 to warmPasses).map(_ => pass(c, -1)).last
  }

  /** A fixed number of passes for a given `seconds` (`PassesPerSecond`
    * per second), so every run times the same stretch of JIT warm-up. */
  def measure(c: Ctx, seconds: Double): Unit = {
    val passes = fixedPasses.getOrElse(math.max(1, math.round(seconds * PassesPerSecond).toInt))
    (1 to passes).foreach { _ =>
      val s = c.loop.timed("rc_fit_score")(c.op("rc_fit_score")(pass(c, _)))(
        nmse => check(nmse), _ => keys.toLong)
      if (s.ok && c.tracer.isDefined) c.layer("rc.test_nmse") = reference
    }
  }

  private def check(nmse: Double): Option[String] =
    if (!(nmse < NmseBound)) Some(f"test NMSE $nmse%.6f above bound $NmseBound")
    else if (math.abs(nmse - reference) > Agree * reference)
      Some(f"test NMSE $nmse%.12f differs from the warm-up's $reference%.12f")
    else None

  /** One fit-and-score pass; returns the test NMSE. */
  private def pass(c: Ctx, id: Int): Double = {
    val rows = c.phase("design", id) {
      val d = RcPipeline.design(series, mats, InputScale, Horizon).persist()
      d.count()
      d
    }
    try {
      val model = c.phase("fit", id)(
        RcPipeline.fitDesigned(rows, mats, Lambda, InputScale, Horizon, TrainFrac))
      val scored = RcPipeline.scoreDesigned(rows, model)
      c.plan(scored, id)
      val perKey = c.phase("score", id)(scored.collect())
      c.census(scored, id)
      // every key scores the same number of steps, so the pooled MSE is
      // the mean of the per-key MSEs
      perKey.map(_._3).sum / perKey.length / variance
    } finally rows.unpersist()
  }
}

object RcForecast {
  /** Pass times show no trend after these: the fold and Gram kernels are
    * compiled within the first passes. */
  val WarmPasses = 8
  val PassesPerSecond = 0.6
  val Horizon = 1
  val TrainFrac = 0.8
  val Lambda = 1e-6
  val InputScale = 1.0
  /** A reservoir that learned nothing scores NMSE ~1; the unobserved
    * drive term of NARMA-10 keeps a working one near 0.45. */
  val NmseBound = 0.6
  /** Passes agree to this relative NMSE: the Gram matrix is summed in
    * whatever order partitions finish, so the last bits vary. */
  val Agree = 1e-6
}
