package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --cpus C --work DIR --out FILE
  * }}}
  *
  * Set-up (SparkSession, seeded inputs, untimed warm-up pass), then the
  * closed loop for S seconds, then — in the traced run only — the kernel
  * probes. The raw record (samples, errors, spans, jobs, layer numbers) is
  * written to FILE as JSON; `run.py` turns it into metrics.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val loop = new Loop()
    val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val spark = session(cpus, work)
    marks("session_ms") = loop.epochMs(loop.now())
    try {
      val c = new Ctx(spark, seed, work, loop)
      val w = Workload(workload)
      w.prepare(c)
      val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
      c.tracer = tracer
      val start = loop.now()
      marks("first_op_ms") = loop.epochMs(start)
      w.measure(c, seconds)

      val segments = Seq(segment("main", c, loop.epochMs(start))) ++
        tracer.toSeq.flatMap(t => layerProbes(workload, spark, seed, work, t))
      val record = scala.collection.mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
        "marks" -> marks, "segments" -> segments, "errors" -> loop.errors,
        "extra" -> c.extra, "oracle" -> c.oracle,
        "data_dir" -> c.dataDir.toString, "out_dir" -> c.outDir.toString)
      tracer.foreach { t =>
        record("kernels") = Probes.run(spark, seed, t)
        t.detach()
        record("spans") = t.spans
        record("jobs") = t.jobs.values.asScala.toSeq.sortBy(_.jobId).map(j =>
          Map("job" -> j.jobId, "group" -> j.group, "start_ms" -> j.startMs,
            "end_ms" -> j.endMs, "stages" -> j.stages,
            "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
            "run_ms" -> j.runMs, "cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
            "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
            "spill" -> j.spill, "result_bytes" -> j.resultBytes))
      }
      record("peak_rss_kb") = vmHwmKb()
      Files.writeString(Paths.get(a("out")), JsonMapper.builder()
        .addModule(DefaultScalaModule).build().writeValueAsString(record))
    } finally spark.stop()
  }

  /** A measured stretch of client ops: its samples, its time window and
    * the layer numbers only the workload could see. */
  private def segment(name: String, c: Ctx, startMs: Double): Map[String, Any] =
    Map("name" -> name, "start_ms" -> startMs,
      "end_ms" -> c.loop.epochMs(c.loop.now()), "samples" -> c.loop.samples,
      "layer" -> c.layer)

  /** Sizes of the layer probes: 10 commits (one re-delivery, one read, one
    * drain) after 5 warm-up commits; 3 small RC passes after 3 warm-up
    * passes. */
  val ProbeCommits = 10
  val ProbeRcKeys = 16
  val ProbeRcSteps = 500

  /** Layers this workload bypasses are measured in the traced run by a
    * small instance of the workload that exercises them, so every traced
    * run reports every layer. */
  private def layerProbes(workload: String, spark: SparkSession, seed: Long,
      work: Path, t: Tracer): Seq[Map[String, Any]] = {
    def run(name: String, w: Workload, seconds: Double) = {
      val c = new Ctx(spark, seed, work.resolve(s"probe_$name"), new Loop())
      w.prepare(c)
      c.tracer = Some(t)
      val start = c.loop.now()
      w.measure(c, seconds)
      c.loop.errors.headOption.foreach { case (op, why) =>
        sys.error(s"layer probe $name: $op failed: $why") }
      segment(name, c, c.loop.epochMs(start))
    }
    Seq(
      Option.when(workload != "snap_ingest")(
        run("sources", new SnapIngest(5, Some(ProbeCommits)), 0)),
      Option.when(workload != "rc_forecast")(
        run("rc", new RcForecast(ProbeRcKeys, ProbeRcSteps, 3, Some(3)), 0))).flatten
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.locality.wait", "0s")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set size of this JVM (VmHWM), in kB. */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }
      .getOrElse(-1L)
}
