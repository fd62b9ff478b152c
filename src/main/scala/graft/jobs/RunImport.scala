package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.model.{SampleTier, Schemas}
import graft.operators._
import graft.sources.LandingFormat
import graft.store.DayPartitionedTable

/** The orchestrated driver — the reference's `make import`
  * (Makefile:17-22), run as its dependency graph. Make runs activity →
  * flow → email → counts → daily summary one after another, but the
  * only real dependency is the summary reading activity_events. So
  * four branches run concurrently through [[graft.util.Par]] —
  * `activity → summaries`, `flow`, `email` and `counts`, each writing
  * only its own tables — and compaction runs once all four finish.
  *
  * Failure: make stops at the first failing step, so after a MAXERROR
  * abort in activity it leaves flow, email and counts unimported. Here
  * the independent branches finish their days; only the failed branch
  * (and, for activity, the summaries behind it) stops. `run` rethrows
  * the failure once every branch has finished, without compacting,
  * and the failed pipeline's days are picked up by the next run, which
  * finds the other pipelines' days already populated.
  *
  * Landing layout (one dir per pipeline, day files inside):
  * {{{
  *   landingRoot/activity/activity-YYYY-MM-DD.csv
  *   landingRoot/flow/flow-YYYY-MM-DD.csv
  *   landingRoot/email/email-events-YYYY-MM-DD.csv
  *   landingRoot/counts/fxa-basic-metrics-YYYY-MM-DD.txt
  * }}}
  *
  * Each pipeline discovers its own unpopulated days (C4), probes the
  * longest-retention tier (B9), processes newest-first (G3), and is an
  * idempotent no-op when nothing new landed (the empty-landing crash of
  * import_events.py:250 is handled in EventImporter.run).
  *
  * `formats` selects each event pipeline's landing WIRE format
  * ("activity" / "flow" / "email" → [[LandingFormat]], default CSV) —
  * the whole orchestration runs unchanged over
  * JSON-lines landings, because everything downstream of readDay is
  * format-blind. The counts pipeline reads the reference's fixed
  * 3-field basic-metrics TXT (import_counts.py) and has no second
  * wire format.
  */
final class RunImport(
    val warehouse: String,
    val landingRoot: String,
    val tiers: Seq[SampleTier] = SampleTier.defaults,
    val countsBegin: LocalDate = LocalDate.parse("2017-05-30"),
    val formats: Map[String, LandingFormat] = Map.empty) {

  private def fmt(pipeline: String): LandingFormat =
    formats.getOrElse(pipeline, LandingFormat.Csv)

  val activity = new EventImporter(warehouse, Schemas.activity, tiers,
    format = fmt("activity"))
  val flow = new FlowPipeline(warehouse, tiers, format = fmt("flow"))
  val email = new EventImporter(warehouse, Schemas.email, tiers,
    format = fmt("email"))
  val counts = new CountsImporter(warehouse, countsBegin)
  val summaries = new DailySummaries(warehouse, activity, tiers)

  /** Run every pipeline; returns days imported per pipeline. */
  def run(
      spark: SparkSession,
      dayFrom: Option[LocalDate] = None,
      dayUntil: Option[LocalDate] = None,
      forceReload: Boolean = false): Map[String, Seq[LocalDate]] = {
    val branches: Seq[() => (String, Seq[LocalDate])] = Seq(
      () => {
        val a = activity.run(spark, s"$landingRoot/activity", "activity",
          dayFrom, dayUntil, forceReload)
        if (activity.maxExtantDay(spark).isDefined) summaries.summarize(spark)
        "activity" -> a
      },
      () => "flow" -> flow.run(spark, s"$landingRoot/flow", "flow",
        dayFrom, dayUntil, forceReload),
      () => "email" -> email.run(spark, s"$landingRoot/email", "email-events",
        dayFrom, dayUntil, forceReload),
      () => "counts" -> counts.run(spark, s"$landingRoot/counts",
        "fxa-basic-metrics", forceReload))
    val imported = graft.util.Par.map(branches)(_.apply()).toMap
    compact(spark, imported)
    imported
  }

  /** D4 — the reference vacuums after every import batch
    * (import_events.py:138-142); the analog here is per-partition
    * compaction of every day this run touched, restoring each to its
    * table's target file count. writeDays already shapes full-day
    * rebuilds, so this pass matters for partitions accreted by
    * incremental appends outside the rebuild path; it is O(touched
    * partitions), never a whole-table rewrite. Summary tables are
    * rebuilt wholesale by writeDays each run and need no pass. */
  def compact(spark: SparkSession, imported: Map[String, Seq[LocalDate]]): Unit = {
    def tablesFor(pipeline: String): Seq[DayPartitionedTable] = pipeline match {
      case "activity" => tiers.map(activity.table)
      case "flow" => tiers.flatMap(t =>
        Seq(flow.importer.table(t), flow.metadataTable(t), flow.experimentsTable(t)))
      case "email"  => tiers.map(email.table)
      case "counts" => Seq(counts.table)
      case _        => Seq.empty
    }
    imported.foreach { case (pipeline, days) =>
      // flow updates rewrite partitions up to updateHorizon days back
      // from each processed day — those count as touched too
      val touched = (pipeline match {
        case "flow" => days.flatMap(d =>
          (0 to flow.updateHorizon.getOrElse(0)).map(h => d.minusDays(h.toLong)))
        case _ => days
      }).distinct
      tablesFor(pipeline).foreach(t =>
        touched.foreach(d => t.compactDay(spark, d)))
    }
  }
}

object RunImport {
  /** CLI: RunImport <warehouse> <landingRoot> [dayFrom] [dayUntil]
    * [--force] [--json=activity,flow,email]
    * `--json=` lists the event pipelines whose landing files are
    * JSON-lines instead of CSV. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunImport <warehouse> <landingRoot> [dayFrom] [dayUntil] " +
        "[--force] [--json=activity,flow,email]")
    val positional = args.filterNot(_.startsWith("--"))
    val force = args.contains("--force")
    val jsonPipelines = args.collectFirst {
      case a if a.startsWith("--json=") =>
        a.stripPrefix("--json=").split(',').map(_.trim).filter(_.nonEmpty).toSeq
    }.getOrElse(Seq.empty)
    val known = Set("activity", "flow", "email")
    require(jsonPipelines.forall(known),
      s"--json= accepts ${known.mkString("/")}, got: ${jsonPipelines.mkString(",")}")
    val dayFrom = positional.lift(2).map(LocalDate.parse)
    val dayUntil = positional.lift(3).map(LocalDate.parse)
    val spark = GraftSession.forMain("graft-import")
    val result = new RunImport(positional(0), positional(1),
        formats = jsonPipelines.map(_ -> (LandingFormat.Json: LandingFormat)).toMap)
      .run(spark, dayFrom, dayUntil, force)
    result.foreach { case (k, days) =>
      println(s"$k: imported ${days.size} days" +
        (if (days.nonEmpty) s" (${days.min}..${days.max})" else ""))
    }
    spark.stop()
  }
}
