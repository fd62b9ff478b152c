package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}
import graft.sources.{CsvEventSource, JsonEventSource, LandingFormat}
import graft.util.TmpDirs

class RunImportSpec extends SparkSpec {
  import spark.implicits._

  test("make-import order end to end: all five pipelines over one landing root") {
    val root = TmpDirs.fresh("spec-runimport-landing")
    val wh = TmpDirs.fresh("spec-runimport-wh")
    CsvEventSource.writeLanding(spark,
      SparkEntry.activityStaging(spark, sfSmoke), s"$root/activity", "activity")
    CsvEventSource.writeLanding(spark,
      SparkEntry.flowStaging(spark, sfSmoke), s"$root/flow", "flow")
    CsvEventSource.writeLanding(spark,
      SparkEntry.emailStaging(spark, sfSmoke), s"$root/email", "email-events")
    Tables.events(spark, sfSmoke)
      .groupBy(to_date($"ts").cast("string").as("day"))
      .agg(countDistinct($"user_id").as("a"), count(lit(1)).as("v"))
      .collect().foreach { r =>
        CsvEventSource.appendLines(spark,
          s"$root/counts/fxa-basic-metrics-${r.getString(0)}.txt",
          Seq(s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)}"))
      }
    val job = new RunImport(wh, root, countsBegin = LocalDate.parse("2024-01-01"))
    val result = job.run(spark)
    result("activity").size shouldBe 30
    result("flow").size shouldBe 30
    result("email").size shouldBe 30
    result("counts").size shouldBe 30
    // every output table exists and is populated
    job.activity.tableBySuffix("").read(spark).count() should be > 0L
    job.flow.metadataTable(job.tiers.find(_.suffix == "").get)
      .read(spark).count() should be > 0L
    job.counts.table.read(spark).count() shouldBe 30
    job.summaries.multiDeviceTable(job.tiers.find(_.suffix == "").get)
      .read(spark).count() should be > 0L
    // a second run with nothing new landed is a complete no-op
    val again = job.run(spark)
    again.values.foreach(_ shouldBe Seq.empty)
  }

  test("JSON landing tree runs the full make-import order, table-identical to CSV") {
    val csvRoot = TmpDirs.fresh("spec-runimport-json-csvroot")
    val jsonRoot = TmpDirs.fresh("spec-runimport-json-root")
    val csvWh = TmpDirs.fresh("spec-runimport-json-csvwh")
    val jsonWh = TmpDirs.fresh("spec-runimport-json-wh")
    // same staging frames, two wire formats (counts has no second wire
    // format — same TXT on both sides)
    val act = SparkEntry.activityStaging(spark, sfSmoke)
    val flw = SparkEntry.flowStaging(spark, sfSmoke)
    val eml = SparkEntry.emailStaging(spark, sfSmoke)
    CsvEventSource.writeLanding(spark, act, s"$csvRoot/activity", "activity")
    CsvEventSource.writeLanding(spark, flw, s"$csvRoot/flow", "flow")
    CsvEventSource.writeLanding(spark, eml, s"$csvRoot/email", "email-events")
    JsonEventSource.writeLanding(spark, act, s"$jsonRoot/activity", "activity")
    JsonEventSource.writeLanding(spark, flw, s"$jsonRoot/flow", "flow")
    JsonEventSource.writeLanding(spark, eml, s"$jsonRoot/email", "email-events")
    Seq(csvRoot, jsonRoot).foreach { root =>
      Tables.events(spark, sfSmoke)
        .groupBy(to_date($"ts").cast("string").as("day"))
        .agg(countDistinct($"user_id").as("a"), count(lit(1)).as("v"))
        .collect().foreach { r =>
          CsvEventSource.appendLines(spark,
            s"$root/counts/fxa-basic-metrics-${r.getString(0)}.txt",
            Seq(s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)}"))
        }
    }
    val begin = LocalDate.parse("2024-01-01")
    // a 10-day window keeps the double-orchestration parity run fast;
    // the 30-day full-landing path is covered by the CSV e2e above
    val from = Some(LocalDate.parse("2024-01-01"))
    val until = Some(LocalDate.parse("2024-01-10"))
    val csvJob = new RunImport(csvWh, csvRoot, countsBegin = begin)
    val jsonJob = new RunImport(jsonWh, jsonRoot, countsBegin = begin,
      formats = Map("activity" -> LandingFormat.Json,
        "flow" -> LandingFormat.Json, "email" -> LandingFormat.Json))
    val csvResult = csvJob.run(spark, from, until)
    val jsonResult = jsonJob.run(spark, from, until)
    jsonResult("activity") shouldBe csvResult("activity")
    jsonResult("flow") shouldBe csvResult("flow")
    jsonResult("email") shouldBe csvResult("email")
    jsonResult("counts") shouldBe csvResult("counts")
    jsonResult("activity") should have size 10
    // the permanent tables must be row-identical across wire formats
    val tier = jsonJob.tiers.find(_.suffix == "").get
    def rows(t: graft.store.DayPartitionedTable): Seq[String] =
      t.read(spark).collect().map(_.toString).sorted.toSeq
    rows(jsonJob.activity.table(tier)) shouldBe rows(csvJob.activity.table(tier))
    rows(jsonJob.flow.metadataTable(tier)) shouldBe rows(csvJob.flow.metadataTable(tier))
    rows(jsonJob.flow.experimentsTable(tier)) shouldBe rows(csvJob.flow.experimentsTable(tier))
    rows(jsonJob.email.table(tier)) shouldBe rows(csvJob.email.table(tier))
    rows(jsonJob.summaries.multiDeviceTable(tier)) shouldBe
      rows(csvJob.summaries.multiDeviceTable(tier))
    // idempotence holds for the JSON form too (same window → no-op)
    jsonJob.run(spark, from, until).values.foreach(_ shouldBe Seq.empty)
  }

  test("a MAXERROR abort in activity stops only its branch; the next run picks it up") {
    val root = TmpDirs.fresh("spec-runimport-isolation-landing")
    val wh = TmpDirs.fresh("spec-runimport-isolation-wh")
    val day = LocalDate.parse("2024-01-05")
    def oneDay(df: org.apache.spark.sql.DataFrame) =
      df.filter($"day" === lit(day.toString).cast("date"))
    val act = oneDay(SparkEntry.activityStaging(spark, sfSmoke))
    CsvEventSource.writeLanding(spark, act, s"$root/activity", "activity")
    CsvEventSource.writeLanding(spark,
      oneDay(SparkEntry.flowStaging(spark, sfSmoke)), s"$root/flow", "flow")
    CsvEventSource.writeLanding(spark,
      oneDay(SparkEntry.emailStaging(spark, sfSmoke)), s"$root/email", "email-events")
    CsvEventSource.appendLines(spark, s"$root/counts/fxa-basic-metrics-$day.txt",
      Seq(s"$day,10,7"))
    // 101 unparseable rows: one over the activity importer's MAXERROR 100
    CsvEventSource.appendLines(spark, s"$root/activity/activity-$day.csv",
      (1 to 101).map(i => s"not_a_timestamp_$i,b,v,o,u,t,s,d"))

    val job = new RunImport(wh, root, countsBegin = LocalDate.parse("2024-01-01"))
    val full = job.tiers.find(_.suffix == "").get
    intercept[CsvEventSource.MaxErrorExceeded](job.run(spark))
    // the independent branches imported their day ...
    job.flow.importer.table(full).hasDay(spark, day) shouldBe true
    job.flow.metadataTable(full).hasDay(spark, day) shouldBe true
    job.email.table(full).hasDay(spark, day) shouldBe true
    job.counts.table.hasDay(spark, day) shouldBe true
    // ... while activity and the summaries behind it wrote nothing
    job.tiers.foreach { t =>
      job.activity.table(t).hasDay(spark, day) shouldBe false
      job.summaries.devicesTable(t).hasDay(spark, day) shouldBe false
      job.summaries.multiDeviceTable(t).hasDay(spark, day) shouldBe false
    }

    // fix the file: the rerun imports activity and its summaries only
    CsvEventSource.writeLanding(spark, act, s"$root/activity", "activity")
    val again = job.run(spark)
    again("activity") shouldBe Seq(day)
    Seq("flow", "email", "counts").foreach(again(_) shouldBe Seq.empty)
    job.activity.table(full).hasDay(spark, day) shouldBe true
    job.summaries.devicesTable(full).hasDay(spark, day) shouldBe true
    job.summaries.multiDeviceTable(full).hasDay(spark, day) shouldBe true
  }

  test("D4: compact() restores fragmented touched partitions to target file counts") {
    val wh = TmpDirs.fresh("spec-runimport-compact")
    val job = new RunImport(wh, wh)
    val tier = job.tiers.find(_.suffix == "").get
    val day = LocalDate.parse("2024-03-10")
    val actT = job.activity.table(tier)      // dayCol=day, sortCol=ts
    val metaT = job.flow.metadataTable(tier) // dayCol=export_date, sortCol=begin_time

    // simulate a partition accreted by many small incremental appends:
    // five single-row writes straight into the partition dir
    def fragment(t: graft.store.DayPartitionedTable, d: LocalDate,
        sortColName: String): Unit =
      (1 to 5).foreach { i =>
        Seq((i.toLong, s"u$i")).toDF(sortColName, "uid")
          .coalesce(1).write.mode("append")
          .parquet(s"${t.path}/${t.dayCol}=$d")
      }
    def parquetFiles(t: graft.store.DayPartitionedTable, d: LocalDate): Int =
      Option(new java.io.File(s"${t.path}/${t.dayCol}=$d").listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))

    fragment(actT, day, "ts")
    // flow horizon (updateHorizon=2): day, day-1, day-2 are all touched
    // by processing `day`; day-3 is outside the horizon
    (0 to 3).foreach(h => fragment(metaT, day.minusDays(h.toLong), "begin_time"))
    parquetFiles(actT, day) shouldBe 5
    parquetFiles(metaT, day) shouldBe 5

    job.compact(spark, Map("activity" -> Seq(day), "flow" -> Seq(day)))

    parquetFiles(actT, day) shouldBe actT.filesPerDay
    actT.read(spark).count() shouldBe 5 // no rows lost
    (0 to 2).foreach { h =>
      parquetFiles(metaT, day.minusDays(h.toLong)) shouldBe metaT.filesPerDay
    }
    parquetFiles(metaT, day.minusDays(3)) shouldBe 5 // untouched stays as-is
  }
}
