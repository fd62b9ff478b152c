package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The traced pass's two instruments.
  *
  * Spans: the benchmark's own call boundaries (name, start, end,
  * parent, run id), kept in memory and written out at the end.
  *
  * Layer attribution: a listener that assigns every Spark job to an
  * engine layer. A job's SQL execution id leads to the execution's
  * call stack (`SparkListenerSQLExecutionStart.details`, posted from
  * the thread that ran the action), and the innermost `graft.` frame
  * of that stack names the layer. Jobs outside any SQL execution fall
  * back to their first stage's call site. Stage names cannot be used:
  * under AQE most stages are named after the future that submitted
  * them. Job groups cannot be used either: `util.Par`'s pool threads
  * copy local properties once, when the pool creates them.
  *
  * Each job also credits every other named layer on its stack (the
  * `incl_*` counters), so an operator whose writes go through the store
  * still shows the jobs it drove.
  *
  * Counters only move while [[enabled]]; [[drain]] waits for the
  * listener bus to deliver every posted event before reading them.
  */
final class Recorder(spark: SparkSession) extends SparkListener {
  import Recorder._

  @volatile var enabled = false

  // ---- spans -------------------------------------------------------------
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var runId = 0L

  /** Time `body` as span `name` under `parent`; recorded only while
    * tracing, so untraced runs make exactly the same calls. */
  def span[A](name: String, parent: String = "")(body: => A): A = {
    val t0 = System.currentTimeMillis()
    try body
    finally if (enabled) spans.synchronized {
      spans += Span(name, t0, System.currentTimeMillis(), parent, runId)
    }
  }

  def spanList: Seq[Span] = spans.synchronized(spans.toList)

  // ---- listener state -----------------------------------------------------
  private final class Job(val layer: String, val stack: Set[String],
      val execId: Long, val start: Long) { var end: Long = start }
  private final class Exec(val layer: String, val stack: Set[String],
      val root: Boolean, val start: Long) { var end: Long = start }

  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  final class Counters {
    var actions, jobs, tasks, failedTasks = 0L
    var taskMs, shuffleBytes, outBytes = 0L
    var inclJobs, inclTaskMs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val byLayer: Map[String, Counters] = Layers.map(_ -> new Counters).toMap
  private val none = new Counters
  var schedDelayMs = 0L

  private def counters(layer: String): Counters = byLayer.getOrElse(layer, none)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart if enabled =>
      val stack = layersOf(e.details)
      val root = e.rootExecutionId.forall(_ == e.executionId)
      val x = new Exec(stack.headOption.getOrElse(""), stack.toSet, root, e.time)
      execs.put(e.executionId, x)
      if (root) synchronized(counters(x.layer).actions += 1)
    case e: SparkListenerSQLExecutionEnd =>
      Option(execs.get(e.executionId)).foreach { x =>
        x.end = e.time
        if (x.root) synchronized(counters(x.layer).intervals += ((x.start, x.end)))
      }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = if (enabled) {
    val execId = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val job = Option(execs.get(execId)) match {
      case Some(x) => new Job(x.layer, x.stack, execId, j.time)
      case None =>
        val stack = j.stageInfos.headOption.map(s => layersOf(s.details)).getOrElse(Nil)
        new Job(stack.headOption.getOrElse(""), stack.toSet, -1L, j.time)
    }
    jobs.put(j.jobId, job)
    j.stageIds.foreach(s => stageJob.putIfAbsent(s, job))
    synchronized {
      counters(job.layer).jobs += 1
      job.stack.foreach(l => counters(l).inclJobs += 1)
      if (execId < 0) counters(job.layer).actions += 1
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobs.get(j.jobId)).foreach { job =>
      job.end = j.time
      if (job.execId < 0) synchronized(counters(job.layer).intervals += ((job.start, job.end)))
    }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    if (enabled) stageSubmit.put(s.stageInfo.stageId,
      s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(t.stageId)).foreach { job =>
      val info = t.taskInfo
      val m = Option(t.taskMetrics)
      val perStage = stageTaskMs.computeIfAbsent(t.stageId, _ => mutable.ArrayBuffer.empty[Long])
      perStage.synchronized(perStage += info.duration)
      synchronized {
        val c = counters(job.layer)
        c.tasks += 1
        c.taskMs += info.duration
        if (info.failed || info.killed) c.failedTasks += 1
        m.foreach { tm =>
          c.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
          c.outBytes += tm.outputMetrics.bytesWritten
        }
        job.stack.foreach(l => counters(l).inclTaskMs += info.duration)
        Option(stageSubmit.get(t.stageId)).foreach(s =>
          schedDelayMs += math.max(0L, info.launchTime - s))
      }
    }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

  // ---- derived figures (call after drain) --------------------------------
  def totalJobs: Long = synchronized(byLayer.values.map(_.jobs).sum + none.jobs)
  def totalTaskMs: Long = synchronized(byLayer.values.map(_.taskMs).sum + none.taskMs)
  def unattributedTaskMs: Long = synchronized(none.taskMs)

  /** All job intervals, for the driver-idle split. */
  def jobIntervals: Seq[(Long, Long)] = jobs.values.asScala.map(j => (j.start, j.end)).toSeq

  /** Median over stages (with >= 2 tasks) of max/median task time. */
  def taskSkew: Double = {
    val ratios = stageTaskMs.values.asScala.toSeq.flatMap { b =>
      val ms = b.synchronized(b.toList).sorted
      if (ms.size < 2) None
      else Some(ms.last.toDouble / math.max(1L, median(ms.map(_.toDouble)).toLong))
    }
    if (ratios.isEmpty) 1.0 else median(ratios)
  }
}

object Recorder {
  final case class Span(name: String, start: Long, end: Long, parent: String, run: Long)

  /** The named layers, each with its frame-class prefix. */
  val Layers: Seq[String] = Seq(
    "sources", "operators.EventImporter", "operators.CountsImporter",
    "operators.FlowPipeline", "operators.DailySummaries",
    "operators.TextDedup", "operators.Similarity", "store", "jobs")

  /** Benchmark classes whose direct actions belong to an engine layer:
    * the dashboard queries are store reads, and the corpus workload's
    * only direct action writes the near-dup dedup output. */
  private val benchLayers = Map(
    "graft.perfbench.DashboardReads" -> "store",
    "graft.perfbench.CorpusNightly" -> "operators.TextDedup")

  /** Layer of one stack frame (`pkg.Class.method(File.scala:n)`). */
  def layerOfFrame(frame: String): Option[String] = {
    val cls = frame.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
      .takeWhile(_ != '$')
    if (cls.startsWith("graft.sources.")) Some("sources")
    else if (cls.startsWith("graft.store.")) Some("store")
    else if (cls.startsWith("graft.jobs.")) Some("jobs")
    else if (cls.startsWith("graft.operators."))
      Some("operators." + cls.stripPrefix("graft.operators."))
    else benchLayers.get(cls)
  }

  /** Named layers on a call stack, innermost first, without repeats;
    * frames of unnamed classes (util, functions, other operators) are
    * transparent. */
  def layersOf(stack: String): List[String] =
    stack.linesIterator.flatMap(l => layerOfFrame(l.trim))
      .filter(Layers.contains).toList.distinct

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length of the union of `[start, end]` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}
