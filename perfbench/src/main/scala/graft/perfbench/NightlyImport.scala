package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `nightly_import`: the production `make import` path, one driver
  * thread. Set-up imports day 1 with all three tiers; each cycle
  * restores that warehouse and runs one `RunImport.run` per newly
  * landed day (days 2..N). The timed operation is one such run. */
final class NightlyImport(spark: SparkSession, work: String, rec: Recorder,
    gen: Gen, days: Int, perDay: Long) extends Workload(spark, work, rec) {
  import Workload._

  private val ev = new EventWarehouse(spark, work, gen, days, perDay)
  private val base = path("base")
  private val live = path("live")

  def setup(): Unit = {
    ev.generate()
    ev.landDay(s"$base/landing", ev.firstDay)
    phase("bootstrap import")(ev.importer(s"$base/warehouse", s"$base/landing").run(spark))
  }

  def pass(seconds: Double): Pass = {
    val ops = Seq.newBuilder[Double]
    var errors = 0
    var landed = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) rec.span("cycle", "pass") {
      rec.span("restore", "cycle")(copyTree(base, live))
      val job = ev.importer(s"$live/warehouse", s"$live/landing")
      (1 until days).foreach { i =>
        landed += ev.landDay(s"$live/landing", ev.firstDay.plusDays(i.toLong))
        try ops += timedMs(rec.span("run_import", "cycle")(job.run(spark)))._2
        catch { case e: Exception => errors += 1; Main.warn(s"import failed: $e") }
      }
    }
    Pass(ops.result(), (System.nanoTime() - t0) / 1e6, errors, inBytes = landed)
  }

  /** Warehouse bytes one cycle adds, per event landed in it. */
  def storeBytesPerRow: Double =
    (treeBytes(s"$live/warehouse") - treeBytes(s"$base/warehouse")).toDouble /
      ((days - 1) * perDay)

  def checks(dir: String): Seq[Check] = {
    val md = ev.importer(s"$live/warehouse", s"$live/landing")
      .summaries.multiDeviceTable(ev.fullTier).read(spark)
      .groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("uid")).as("n_users"))
    Seq(Check("q41_run_import_e2e", writeCheck(md, s"$dir/q41"),
      SparkEntry.oracleSql("q41_run_import_e2e"),
      Map("events" -> s"${ev.inputs}/events.parquet/*.parquet"), days - 1))
  }

  override def layerRatios(r: Recorder, traced: Pass): Map[String, Double] = Map(
    "operators.EventImporter.jobs_per_day" ->
      r.byLayer("operators.EventImporter").inclJobs.toDouble / math.max(1, traced.opsMs.size),
    "store.write_amp" ->
      r.byLayer("store").outBytes.toDouble / math.max(1L, traced.inBytes))
}
