package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One output check: Spark's result, written as parquet under
  * `sparkDir`, must equal DuckDB's answer to `sql` with each entry of
  * `views` (view name -> parquet glob) registered first. `ops` is how
  * many timed operations the check vouches for: a mismatch counts them
  * all as failed. */
final case class Check(name: String, sparkDir: String, sql: String,
    views: Map[String, String], ops: Int)

/** What one closed-loop pass measured: the wall time of each timed
  * operation, the pass's wall time, the operations that threw or
  * returned wrong rows, and the input it consumed (landed bytes, rows)
  * for per-layer ratios. */
final case class Pass(opsMs: Seq[Double], wallMs: Double, errors: Int,
    wrong: Int = 0, inBytes: Long = 0L, rows: Long = 0L) {
  def attempted: Int = opsMs.size + errors
}

/** A benchmark workload over one session and one work directory. */
abstract class Workload(val spark: SparkSession, val work: String, val rec: Recorder) {

  /** Generate inputs and bootstrap the starting state. */
  def setup(): Unit

  /** Run the closed loop until `seconds` have passed. */
  def pass(seconds: Double): Pass

  /** Persisted bytes per input row of the state the last pass left. */
  def storeBytesPerRow: Double

  /** Write the outputs to check and describe their oracles. */
  def checks(dir: String): Seq[Check]

  /** Workload-specific per-layer figures for the traced pass. */
  def layerRatios(r: Recorder, traced: Pass): Map[String, Double] = Map.empty

  protected def path(p: String): String = s"$work/$p"

  protected def writeCheck(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    s"$dir/*.parquet"
  }
}

object Workload {
  /** Run one set-up phase, logging its wall time to stderr. */
  def phase[A](name: String)(body: => A): A = {
    val (r, ms) = timedMs(body)
    Main.warn(f"  $name%-28s ${ms / 1e3}%6.1f s")
    r
  }

  def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Replace `to` with a copy of the tree at `from`. */
  def copyTree(from: String, to: String): Unit = {
    deleteTree(to)
    val src = Paths.get(from)
    val dst = Paths.get(to)
    Files.walk(src).iterator().asScala.foreach { p =>
      val q: Path = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Bytes of the regular data files under `p` (Hadoop's `.crc`
    * side files and `_SUCCESS` markers excluded). */
  def treeBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala
      .filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.endsWith(".crc") && !n.startsWith("_")
      })
      .map(f => Files.size(f)).sum
  }
}
