package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.jobs.{CardMaintenance, RunNightly, TokenizerMaintenance}
import graft.operators.TextDedup

/** `corpus_nightly`: the corpus side of the night, one driver thread.
  * Set-up writes seeded documents and embeddings, derives q157's old
  * and new snapshots from them (~30% of ids dropped, added or
  * rewritten) and bootstraps the `RunNightly` state over the old ones.
  * Each cycle restores that state, runs one `RunNightly.tick` (five
  * families concurrent under `util.Par`) and then
  * `TextDedup.nearDupDedup` over the new snapshot, writing the
  * deduplicated dataset. The timed operation is the tick plus the
  * dedup. */
final class CorpusNightly(spark: SparkSession, work: String, rec: Recorder,
    gen: Gen, nDocs: Long, nVecs: Long) extends Workload(spark, work, rec) {
  import Workload._

  private val inputs = path("inputs")
  private val snap = path("snapshots")
  private val base = path("base_state")
  private val live = path("live")
  private def docs(name: String): DataFrame =
    spark.read.parquet(s"$snap/$name").select("doc_id", "text", "lang", "source")
  private def vecs(name: String): DataFrame =
    spark.read.parquet(s"$snap/$name").select("vec_id", "embedding")
  private lazy val newDocRows = spark.read.parquet(s"$snap/new_docs").count()
  private lazy val newVecRows = spark.read.parquet(s"$snap/new_vecs").count()

  def setup(): Unit = {
    phase("generate corpus")(graft.util.Par.foreach(Seq(
      () => gen.documents(spark, nDocs).write.mode("overwrite")
        .parquet(s"$inputs/documents.parquet"),
      () => gen.embeddings(spark, nVecs).write.mode("overwrite")
        .parquet(s"$inputs/embeddings.parquet")))(_.apply()))
    phase("write snapshots")(writeSnapshots())
    phase("bootstrap nightly state") {
      RunNightly.tick(spark, base, docs("old_docs"), docs("old_docs"),
        vecs("old_vecs"), vecs("old_vecs"))
    }
    (newDocRows, newVecRows): Unit
  }

  /** q157's snapshot derivation, materialized so the engine reads files. */
  private def writeSnapshots(): Unit = {
    val (oldDocs, newDocs) = SparkEntry.cardSnapshotFixture(spark, inputs)
    val e = graft.Tables.embeddings(spark, inputs)
    graft.util.Par.foreach(Seq(
      "old_docs" -> oldDocs,
      "new_docs" -> newDocs.withColumn("n_chars", length(col("text")).cast("long")),
      "old_vecs" -> e.filter(col("vec_id") % 10 =!= 3).select(col("vec_id"), col("embedding")),
      "new_vecs" -> e.filter(col("vec_id") % 10 =!= 7)
        .select(col("vec_id"),
          when(col("vec_id") % 10 === 5, transform(col("embedding"), x => -x))
            .otherwise(col("embedding")).as("embedding")))) { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$snap/$name")
    }
  }

  private def dedup(d: DataFrame, out: String): Unit =
    TextDedup.nearDupDedup(d, "doc_id", "text", minJaccard = 0.5)
      .write.mode("overwrite").parquet(out)

  def pass(seconds: Double): Pass = {
    val ops = Seq.newBuilder[Double]
    var errors = 0
    var docsIn = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) rec.span("cycle", "pass") {
      rec.span("restore", "cycle")(copyTree(base, s"$live/state"))
      try {
        val (_, ms) = timedMs {
          rec.span("nightly_tick", "cycle")(RunNightly.tick(spark, s"$live/state",
            docs("old_docs"), docs("new_docs"), vecs("old_vecs"), vecs("new_vecs")))
          rec.span("near_dup_dedup", "cycle")(dedup(docs("new_docs"), s"$live/dedup"))
        }
        ops += ms
        docsIn += newDocRows
      } catch { case e: Exception => errors += 1; Main.warn(s"corpus cycle failed: $e") }
    }
    Pass(ops.result(), (System.nanoTime() - t0) / 1e6, errors, rows = docsIn)
  }

  /** Maintained state bytes per row of the new snapshots. */
  def storeBytesPerRow: Double =
    treeBytes(s"$live/state").toDouble / (newDocRows + newVecRows)

  def checks(dir: String): Seq[Check] = {
    val st = s"$live/state"
    // q157's read-back of every maintained relation, one tagged union
    def pad(df: DataFrame, rel: String, cols: Column*): DataFrame = {
      val cs = cols.zipWithIndex.map { case (c, i) => c.cast("string").as(s"c${i + 1}") }
      val nulls = (cols.size until 7).map(i => lit(null).cast("string").as(s"c${i + 1}"))
      df.select((lit(rel).as("rel") +: (cs ++ nulls)): _*)
    }
    val tick = Seq(
      pad(spark.read.parquet(s"$st/index/band_index"), "band",
        col("id"), col("band"), col("key")),
      pad(spark.read.parquet(s"$st/index/hash_index"), "hash", col("h"), col("cnt")),
      pad(CardMaintenance.card(CardMaintenance.load(spark, s"$st/card").get), "card",
        col("lang"), col("n_docs"), col("n_exact_dups"), col("n_sources"),
        col("total_tokens"), col("mean_tokens_milli"), col("distinct_words")),
      pad(spark.read.parquet(s"$st/vecindex")
        .select(col("id"), col("cell"), concat_ws(",", col("code")).as("cs")),
        "vecpost", col("id"), col("cell"), col("cs")),
      pad(spark.read.parquet(s"$st/cov"), "cov",
        col("d1"), col("d2"), col("n"), col("s1"), col("s2"), col("s12")),
      pad(TokenizerMaintenance.card(TokenizerMaintenance.load(spark, s"$st/tokenizer").get),
        "tok", col("lang"), col("n_docs"), col("n_chars"), col("n_ws_tokens"),
        col("n_tokens"), col("chars_per_token_ppm"), col("fertility_ppm"))
    ).reduce(_ unionByName _)
    val deduped = spark.read.parquet(s"$live/dedup").select("doc_id", "lang", "source")
    val inputViews = Map(
      "documents" -> s"$inputs/documents.parquet/*.parquet",
      "embeddings" -> s"$inputs/embeddings.parquet/*.parquet")
    Seq(
      Check("q157_nightly_tick", writeCheck(tick, s"$dir/q157"),
        SparkEntry.oracleSql("q157_nightly_tick"), inputViews, 1),
      Check("q57_neardup_dedup_dataset", writeCheck(deduped, s"$dir/q57"),
        SparkEntry.oracleSql("q57_neardup_dedup_dataset"),
        Map("documents" -> s"$snap/new_docs/*.parquet"), 1))
  }

  override def layerRatios(r: Recorder, traced: Pass): Map[String, Double] = Map(
    "operators.TextDedup.shuffle_bytes_per_doc" ->
      r.byLayer("operators.TextDedup").shuffleBytes.toDouble / math.max(1L, traced.rows))
}
