package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.jdk.CollectionConverters._

import graft.{GraftExtensions, GraftSession}

/** The benchmark JVM: one workload, one session, one work directory.
  *
  * `Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile>`
  *
  * Set-up, then one closed-loop pass of `seconds`. With trace 0 the
  * pass yields the end-to-end metrics; with trace 1 it makes the same
  * calls with spans and the layer listener on, and yields the
  * per-layer metrics instead. The pass's outputs are written for
  * checking, and
  * everything goes to `resultFile` as JSON; `run.py` runs the DuckDB
  * checks and prints the benchmark's result line.
  */
object Main {
  /** Sizes per workload; see README.md for why. */
  val ImportDays = 2
  val DashboardDays = 1
  val EventsPerDay = 5000L
  val CorpusDocs = 1000L
  val CorpusVecs = 400L
  val ReadThreads = 2

  def warn(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, resultFile) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    // call stacks deep enough to reach the engine frame under any caller
    System.setProperty("spark.callstack.depth", "200")
    val spark = GraftSession.builder("perfbench", Runtime.getRuntime.availableProcessors)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    val rec = new Recorder(spark)
    rec.runId = seed
    spark.sparkContext.addSparkListener(rec)
    val gen = new Gen(seed)
    val w: Workload = workload match {
      case "nightly_import" =>
        new NightlyImport(spark, work, rec, gen, ImportDays, EventsPerDay)
      case "dashboard_reads" =>
        new DashboardReads(spark, work, rec, gen, seed, DashboardDays, EventsPerDay, ReadThreads)
      case "corpus_nightly" =>
        new CorpusNightly(spark, work, rec, gen, CorpusDocs, CorpusVecs)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    val (_, setupMs) = Workload.timedMs(w.setup())
    warn(f"setup ${setupMs / 1e3}%.1f s")
    // the traced pass makes the same calls with spans and the layer
    // listener on; everything the listener saw is drained before reading
    rec.enabled = trace
    val gc0 = gcMs()
    val p = rec.span("pass")(w.pass(seconds))
    rec.drain()
    rec.enabled = false
    val gcPass = gcMs() - gc0
    warn(f"pass: ${p.opsMs.size} ops in ${p.wallMs / 1e3}%.1f s, " +
      p.opsMs.map(ms => f"${ms / 1e3}%.2f").mkString("[", " ", "] s"))
    val checks = Workload.phase("write outputs to check")(w.checks(s"$work/checks"))

    val metrics: Seq[(String, Double, String)] =
      if (trace) layerMetrics(rec, w, p, gcPass) :+
        (("trace.op_p50_ms", Recorder.median(p.opsMs), "ms"))
      else Seq(
        ("setup_s", setupMs / 1e3, "s"),
        ("op_p50_ms", Recorder.median(p.opsMs), "ms"),
        ("ops_per_s", p.opsMs.size / (p.wallMs / 1e3), "1/s"),
        ("store_bytes_per_row", w.storeBytesPerRow, "bytes/row"),
        ("peak_rss_mb", peakRssMb(), "MB"))

    val stamp = Seq(
      "workload" -> q(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "spark" -> q(spark.version), "jdk" -> q(System.getProperty("java.version")),
      "ops" -> p.opsMs.size.toString)
    val json = obj(Seq(
      "stamp" -> obj(stamp),
      "attempted" -> p.attempted.toString,
      "errors" -> p.errors.toString,
      "wrong" -> p.wrong.toString,
      "metrics" -> obj(metrics.map { case (n, v, u) =>
        n -> obj(Seq("value" -> num(v), "unit" -> q(u))) }),
      "checks" -> checks.map(c => obj(Seq("name" -> q(c.name), "spark" -> q(c.sparkDir),
        "sql" -> q(c.sql), "ops" -> c.ops.toString,
        "views" -> obj(c.views.toSeq.map { case (k, v) => k -> q(v) })))).mkString("[", ",", "]"),
      "spans" -> spanRecords(rec).mkString("[", ",", "]")))
    Files.write(Paths.get(resultFile), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The traced pass's per-layer figures. */
  private def layerMetrics(rec: Recorder, w: Workload, p: Pass, gcMs: Long)
      : Seq[(String, Double, String)] = {
    val layers = Recorder.Layers.flatMap { l =>
      val c = rec.byLayer(l)
      Seq(
        (s"$l.actions", c.actions.toDouble, "count"),
        (s"$l.jobs", c.jobs.toDouble, "count"),
        (s"$l.tasks", c.tasks.toDouble, "count"),
        (s"$l.busy_s", Recorder.unionMs(c.intervals.toSeq) / 1e3, "s"),
        (s"$l.task_s", c.taskMs / 1e3, "s"),
        (s"$l.shuffle_bytes", c.shuffleBytes.toDouble, "bytes"),
        (s"$l.out_bytes", c.outBytes.toDouble, "bytes"),
        (s"$l.failed_tasks", c.failedTasks.toDouble, "count"),
        (s"$l.incl_jobs", c.inclJobs.toDouble, "count"),
        (s"$l.incl_task_s", c.inclTaskMs / 1e3, "s"))
    }
    val spans = rec.spanList
    def spanMedian(name: String): Double =
      Recorder.median(spans.filter(_.name == name).map(s => (s.end - s.start).toDouble))
    val opSpans = spans.filter(s => Set("run_import", "nightly_tick", "near_dup_dedup")(s.name) ||
      s.name.startsWith("read."))
    val idleMs = Recorder.unionMs(opSpans.map(s => (s.start, s.end))) -
      Recorder.unionMs(rec.jobIntervals)
    val total = rec.totalTaskMs
    val ratios = Map(
      "operators.EventImporter.jobs_per_day" -> 0.0, "store.write_amp" -> 0.0,
      "operators.TextDedup.shuffle_bytes_per_doc" -> 0.0) ++ w.layerRatios(rec, p)
    layers ++ Seq(
      ("spark.jobs", rec.totalJobs.toDouble, "count"),
      ("spark.driver_idle_s", math.max(0L, idleMs) / 1e3, "s"),
      ("spark.sched_delay_s", rec.schedDelayMs / 1e3, "s"),
      ("spark.gc_s", gcMs / 1e3, "s"),
      ("spark.task_skew", rec.taskSkew, "ratio"),
      ("spark.unattributed_task_s", rec.unattributedTaskMs / 1e3, "s"),
      ("spark.attributed_frac",
        if (total == 0) 1.0 else 1.0 - rec.unattributedTaskMs.toDouble / total, "ratio"),
      ("operators.EventImporter.jobs_per_day", ratios("operators.EventImporter.jobs_per_day"), "jobs/day"),
      ("store.write_amp", ratios("store.write_amp"), "ratio"),
      ("operators.TextDedup.shuffle_bytes_per_doc",
        ratios("operators.TextDedup.shuffle_bytes_per_doc"), "bytes/doc"),
      ("span.run_import_s", spanMedian("run_import") / 1e3, "s"),
      ("span.nightly_tick_s", spanMedian("nightly_tick") / 1e3, "s"),
      ("span.near_dup_dedup_s", spanMedian("near_dup_dedup") / 1e3, "s")) ++
      DashboardReads.QueryNames.map(n => (s"span.read.${n}_ms", spanMedian(s"read.$n"), "ms"))
  }

  /** Every recorded span with its self time (wall minus the children
    * that ran inside it on the same pass). */
  private def spanRecords(rec: Recorder): Seq[String] = {
    val spans = rec.spanList
    spans.map { s =>
      val children = spans.filter(c => c.parent == s.name && c.run == s.run &&
        c.start >= s.start && c.end <= s.end)
      val self = (s.end - s.start) - children.map(c => c.end - c.start).sum
      obj(Seq("name" -> q(s.name), "parent" -> q(s.parent), "run" -> s.run.toString,
        "start_ms" -> s.start.toString, "end_ms" -> s.end.toString,
        "self_ms" -> math.max(0L, self).toString))
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The JVM's resident-set high-water mark (`VmHWM`). */
  private def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
}
