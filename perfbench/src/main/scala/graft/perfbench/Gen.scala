package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextDedup

/** Seeded input generators. Every value is hash-derived from a row id
  * with the seed folded into the hash tag, so one seed always yields
  * byte-identical inputs at any partitioning, and two seeds yield
  * unrelated ones. The engine only ever sees the files written from
  * these frames.
  *
  * `events` has the testdata `events` schema (event_id, ts, user_id,
  * event_type, value, props); documents and embeddings follow
  * [[graft.ScaleFixture]]'s statistics (31-word vocabulary, 10–100-word
  * docs, ~0.3% exact-dup pairs, five langs, 20 sources; 64-dim
  * unit-norm vectors in 10 clusters).
  */
final class Gen(seed: Long) {

  private def tag(t: String, c: Column): Column =
    TextDedup.md5Hash60(concat(lit(s"$seed:$t:"), c.cast("string")))

  /** `perDay` events on each of `days` consecutive days from 2024-01-01,
    * users hash-uniform over `users`, types uniform over five. */
  def events(spark: SparkSession, days: Int, perDay: Long, users: Long): DataFrame = {
    val types = array(Seq("signup", "view", "click", "purchase", "error").map(lit): _*)
    spark.range(days * perDay).select(col("id").as("event_id"))
      .withColumn("ts", timestamp_seconds(lit(1704067200L) +
        (col("event_id") / perDay).cast("long") * 86400L +
        pmod(tag("t", col("event_id")), lit(86400L))))
      .withColumn("user_id", pmod(tag("u", col("event_id")), lit(users)))
      .withColumn("event_type", element_at(types,
        (pmod(tag("e", col("event_id")), lit(5L)) + 1).cast("int")))
      .withColumn("value",
        pmod(tag("w", col("event_id")), lit(10000L)).cast("double") / 100.0)
      .withColumn("props", concat(lit("{\"k\": "),
        pmod(tag("k", col("event_id")), lit(100L)).cast("string"), lit("}")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  def documents(spark: SparkSession, nDocs: Long): DataFrame = {
    val vocab = array(graft.ScaleFixture.vocab.map(lit): _*)
    val nWords = graft.ScaleFixture.vocab.size.toLong
    // every 625th doc copies its predecessor's text (exact-dup pairs)
    val eid = when(col("doc_id") % 625 === 624, col("doc_id") - 1)
      .otherwise(col("doc_id"))
    spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("_eid", eid)
      .withColumn("_len", (pmod(tag("len", col("_eid")), lit(91L)) + 10).cast("int"))
      .withColumn("text", array_join(
        transform(sequence(lit(1), col("_len")), i =>
          element_at(vocab,
            (pmod(tag("w", concat(col("_eid"), lit("_"), i)), lit(nWords)) + 1)
              .cast("int"))), " "))
      .withColumn("_lh", pmod(tag("lang", col("doc_id")), lit(1000L)))
      .withColumn("lang",
        when(col("_lh") < 412, "en").when(col("_lh") < 559, "de")
          .when(col("_lh") < 706, "es").when(col("_lh") < 853, "fr")
          .otherwise("zh"))
      .withColumn("source",
        concat(lit("src"), pmod(tag("src", col("doc_id")), lit(20L))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession, nVecs: Long): DataFrame = {
    def u(c: Column): Column = // hash-uniform in [-1, 1]
      (pmod(c, lit(2001L)) - 1000L).cast("double") / 1000.0
    def unit(raw: Column): Column = {
      val nrm = sqrt(aggregate(raw, lit(0.0d), (acc, x) => acc + x * x))
      transform(raw, x => x / nrm)
    }
    val centers = spark.range(10).select(col("id").cast("int").as("label"))
      .select(col("label"), unit(transform(sequence(lit(0), lit(63)), d =>
        u(tag("c", concat(col("label"), lit("_"), d))))).as("cvec"))
    spark.range(nVecs).select(col("id").as("vec_id"))
      .withColumn("label", pmod(tag("lbl", col("vec_id")), lit(10L)).cast("int"))
      .join(broadcast(centers), Seq("label"))
      .select(col("vec_id"),
        transform(unit(zip_with(col("cvec"),
          transform(sequence(lit(0), lit(63)), d =>
            u(tag("n", concat(col("vec_id"), lit("_"), d))) * 0.35),
          (c, n) => c + n)), x => x.cast("float")).as("embedding"),
        col("label"))
  }
}
