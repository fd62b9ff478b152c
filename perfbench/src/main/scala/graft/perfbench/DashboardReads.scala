package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.DayPartitionedTable

/** `dashboard_reads`: the Redash query-runner pool, two worker threads
  * in a closed loop over a read-only warehouse that set-up imports
  * with `RunImport` (every day, all three tiers). Each worker takes
  * the next query of a seeded order; the timed operation is one query
  * from plan to collected rows. */
final class DashboardReads(spark: SparkSession, work: String, rec: Recorder,
    gen: Gen, seed: Long, days: Int, perDay: Long, threads: Int)
    extends Workload(spark, work, rec) {
  import DashboardReads._
  import Workload._

  private val ev = new EventWarehouse(spark, work, gen, days, perDay)
  private val warehouse = path("warehouse")
  private lazy val job = ev.importer(warehouse, path("landing"))
  private val until = ev.lastDay

  /** The analyst mix: Spark over the store's `readRange`, and the same
    * question in DuckDB over the warehouse's parquet (`t(name)` is a
    * hive-partitioned scan of one table). */
  lazy val queries: Seq[Query] = {
    val full = ev.fullTier
    val sampled10 = ev.tiers.head
    def dau(n: Int) = Query(s"dau_${n}d",
      () => job.activity.table(sampled10).readRange(spark, until.minusDays(n - 1L), until)
        .groupBy(col("day").cast("string").as("day"))
        .agg(countDistinct(col("uid")).as("dau")),
      s"""SELECT CAST(day AS VARCHAR) AS day, COUNT(DISTINCT uid) AS dau
          FROM ${t(job.activity.table(sampled10))}
          WHERE ${between("day", n)} GROUP BY 1""")
    val meta = job.flow.metadataTable(full)
    val exps = job.flow.experimentsTable(full)
    Seq(
      dau(7),
      dau(28),
      Query("flow_completion",
        () => meta.readRange(spark, until.minusDays(27), until)
          .groupBy(col("entrypoint"))
          .agg(count(lit(1)).as("n_flows"),
            sum(when(col("completed"), 1).otherwise(0)).as("n_completed"))
          .withColumn("rate", col("n_completed").cast("double") / col("n_flows")),
        s"""SELECT entrypoint, COUNT(*) AS n_flows,
                   SUM(CASE WHEN completed THEN 1 ELSE 0 END) AS n_completed,
                   CAST(SUM(CASE WHEN completed THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*) AS rate
            FROM ${t(meta)} WHERE ${between("export_date", 28)} GROUP BY 1"""),
      Query("experiment_conversion",
        () => exps.readRange(spark, until.minusDays(27), until)
          .select("experiment", "cohort", "flow_id")
          .join(meta.readRange(spark, until.minusDays(27), until)
            .select("flow_id", "completed"), Seq("flow_id"))
          .groupBy(col("experiment"), col("cohort"))
          .agg(count(lit(1)).as("n_flows"),
            sum(when(col("completed"), 1).otherwise(0)).as("n_converted")),
        s"""SELECT e.experiment, e.cohort, COUNT(*) AS n_flows,
                   SUM(CASE WHEN m.completed THEN 1 ELSE 0 END) AS n_converted
            FROM ${t(exps)} e JOIN ${t(meta)} m USING (flow_id)
            WHERE ${between("e.export_date", 28)} AND ${between("m.export_date", 28)}
            GROUP BY 1, 2"""),
      Query("multi_device_trend",
        () => job.summaries.multiDeviceTable(full).readRange(spark, until.minusDays(27), until)
          .groupBy(col("day").cast("string").as("day"))
          .agg(countDistinct(col("uid")).as("n_users"), count(lit(1)).as("n_pairs")),
        s"""SELECT CAST(day AS VARCHAR) AS day, COUNT(DISTINCT uid) AS n_users,
                   COUNT(*) AS n_pairs
            FROM ${t(job.summaries.multiDeviceTable(full))}
            WHERE ${between("day", 28)} GROUP BY 1"""),
      Query("email_bounce",
        () => job.email.table(full).readRange(spark, until.minusDays(6), until)
          .groupBy(col("template"))
          .agg(count(lit(1)).as("n_sent"),
            sum(when(col("bounced") === "true", 1).otherwise(0)).as("n_bounced")),
        s"""SELECT template, COUNT(*) AS n_sent,
                   SUM(CASE WHEN bounced = 'true' THEN 1 ELSE 0 END) AS n_bounced
            FROM ${t(job.email.table(full))}
            WHERE ${between("day", 7)} GROUP BY 1"""),
      Query("counts_trend",
        () => job.counts.table.readRange(spark, until.minusDays(27), until)
          .select(col("day").cast("string").as("day"), col("accounts"),
            col("verified_accounts")),
        s"""SELECT CAST(day AS VARCHAR) AS day, accounts, verified_accounts
            FROM ${t(job.counts.table)} WHERE ${between("day", 28)}"""))
  }.ensuring(_.map(_.name) == QueryNames)

  private def t(table: DayPartitionedTable): String =
    s"read_parquet('${table.path}/*/*.parquet', hive_partitioning = true)"
  private def between(c: String, n: Int): String =
    s"$c BETWEEN DATE '${until.minusDays(n - 1L)}' AND DATE '$until'"

  /** The seeded query order every pass draws from: rounds that each
    * hold every query once, shuffled, so any pass runs a near-equal mix
    * whatever the seed. */
  private lazy val order: Array[Int] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(1 << 13)(rnd.shuffle(queries.indices.toList)).flatten
  }
  private val next = new AtomicInteger(0)
  /** First result of each query, and how often each query ran. */
  private val firstResult = new ConcurrentHashMap[String, Seq[Row]]()
  private val runs = new ConcurrentHashMap[String, AtomicInteger]()

  def setup(): Unit = {
    ev.generate()
    (0 until days).foreach(i => ev.landDay(path("landing"), ev.firstDay.plusDays(i.toLong)))
    phase("import warehouse")(job.run(spark))
    // plan every query once, so the pass times steady-state reads
    phase("warm queries")(queries.foreach(q => q.df().collect()))
  }

  def pass(seconds: Double): Pass = {
    val ops = new ConcurrentLinkedQueue[Double]()
    val errors, wrong = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val workers = (0 until threads).map { _ =>
      val th = new Thread(() => {
        while ((System.nanoTime() - t0) / 1e9 < seconds) {
          val q = queries(order(next.getAndIncrement() % order.length))
          try {
            val (rows, ms) = timedMs(rec.span(s"read.${q.name}", "pass")(q.df().collect().toSeq))
            ops.add(ms)
            if (!record(q.name, rows)) wrong.incrementAndGet()
          } catch { case e: Exception => errors.incrementAndGet(); Main.warn(s"${q.name} failed: $e") }
        }
      })
      th.start()
      th
    }
    workers.foreach(_.join())
    Pass(ops.asScala.toSeq, (System.nanoTime() - t0) / 1e6, errors.get, wrong = wrong.get)
  }

  /** Keep the query's first result; false if these rows differ from it. */
  private def record(name: String, rows: Seq[Row]): Boolean = {
    runs.computeIfAbsent(name, _ => new AtomicInteger).incrementAndGet()
    val sorted = rows.sortBy(_.toString)
    val first = firstResult.putIfAbsent(name, sorted)
    first == null || first == sorted
  }

  def storeBytesPerRow: Double = treeBytes(warehouse).toDouble / (days * perDay)

  def checks(dir: String): Seq[Check] = queries.map { q =>
    val rows = Option(firstResult.get(q.name)).getOrElse(q.df().collect().toSeq)
    val df = spark.createDataFrame(rows.asJava, q.df().schema)
    Check(s"read.${q.name}", writeCheck(df, s"$dir/${q.name}"), q.duckSql, Map.empty,
      Option(runs.get(q.name)).map(_.get).getOrElse(0))
  }
}

object DashboardReads {
  /** The mix, in the order the seeded draw indexes it. */
  val QueryNames: Seq[String] = Seq("dau_7d", "dau_28d", "flow_completion",
    "experiment_conversion", "multi_device_trend", "email_bounce", "counts_trend")

  final case class Query(name: String, df: () => DataFrame, duckSql: String)
}
