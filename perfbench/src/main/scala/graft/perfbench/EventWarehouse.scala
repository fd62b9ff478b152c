package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{LocalDate, Period}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.jobs.RunImport
import graft.model.SampleTier
import graft.sources.CsvEventSource

/** Seeded events and their `RunImport` landing files, shared by the
  * import and dashboard workloads.
  *
  * `inputs/events.parquet` holds every generated event (the oracle's
  * input); `landing_all/<pipeline>/` holds every day file, from which
  * [[landDay]] copies one day into a live landing root. The day files
  * derive from the events exactly as the registry's import gates
  * derive theirs (activity, flow and email staging; counts lines of
  * distinct users and events per day).
  */
final class EventWarehouse(spark: SparkSession, work: String, gen: Gen,
    val days: Int, val perDay: Long) {

  val firstDay: LocalDate = LocalDate.parse("2024-01-01")
  val lastDay: LocalDate = firstDay.plusDays(days - 1L)
  val inputs = s"$work/inputs"
  private val landingAll = s"$work/landing_all"

  /** Day-granular tiers: the sampled tiers keep only the newest day,
    * so each imported day expires the one before; the full tier keeps
    * 18 days, the retention the registry's import oracle (q41) assumes. */
  val tiers: Seq[SampleTier] = Seq(
    SampleTier(10, Period.ofDays(0), "_sampled_10"),
    SampleTier(50, Period.ofDays(0), "_sampled_50"),
    SampleTier(100, Period.ofDays(18), ""))
  def fullTier: SampleTier = tiers.last

  private val pipelines = Seq(
    ("activity", "activity", ".csv"), ("flow", "flow", ".csv"),
    ("email", "email-events", ".csv"), ("counts", "fxa-basic-metrics", ".txt"))

  def generate(): Unit = {
    Workload.phase("generate events") {
      gen.events(spark, days, perDay, users = perDay / 2)
        .write.mode("overwrite").parquet(s"$inputs/events.parquet")
    }
    Workload.phase("land day files")(land())
  }

  private def land(): Unit = {
    graft.util.Par.foreach(Seq(
      ("activity", "activity", SparkEntry.activityStaging _),
      ("flow", "flow", SparkEntry.flowStaging _),
      ("email", "email-events", SparkEntry.emailStaging _))) { case (dir, prefix, staging) =>
      CsvEventSource.writeLanding(spark, staging(spark, inputs), s"$landingAll/$dir", prefix)
    }
    Files.createDirectories(Paths.get(s"$landingAll/counts"))
    graft.Tables.events(spark, inputs)
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .agg(countDistinct(col("user_id")), count(lit(1)))
      .collect().foreach { r =>
        Files.write(Paths.get(s"$landingAll/counts/fxa-basic-metrics-${r.getString(0)}.txt"),
          s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)}\n".getBytes(StandardCharsets.UTF_8))
      }
  }

  /** Copy day `d`'s four landing files into `landingRoot`; returns
    * their bytes. */
  def landDay(landingRoot: String, d: LocalDate): Long =
    pipelines.map { case (dir, prefix, ext) =>
      val src = Paths.get(s"$landingAll/$dir/$prefix-$d$ext")
      val dst = Paths.get(s"$landingRoot/$dir/$prefix-$d$ext")
      Files.createDirectories(dst.getParent)
      Files.copy(src, dst)
      Files.size(src)
    }.sum

  def importer(warehouse: String, landingRoot: String): RunImport =
    new RunImport(warehouse, landingRoot, tiers, countsBegin = firstDay)
}
