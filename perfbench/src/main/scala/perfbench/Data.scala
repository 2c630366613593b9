package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Transcripts

/** Seeded inputs. The seed salts conversation ids and texts; the shape of
  * the data (row counts, roles, parse markers, continuation lines) stays
  * that of `Transcripts.synthesize`, so run time does not depend on it.
  */
object Data {
  def tag(seed: Long): String =
    f"${(seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L) >>> 40}%06x"

  /** `nConvs × turnsPerConv` turns in `parts` partitions. Conversation ids
    * carry the seed tag and `label`, so every label names fresh
    * conversations; every non-blank text ends in its own conversation id
    * and turn, so no two generated turns share content. Blank turns stay
    * blank and continuation turns keep their leading whitespace.
    */
  def turns(spark: SparkSession, seed: Long, label: String, nConvs: Long,
      turnsPerConv: Int, parts: Int): DataFrame = {
    val cid = concat(col("conv_id"), lit(s"-${tag(seed)}$label"))
    Transcripts.synthesize(spark, nConvs, turnsPerConv, numPartitions = parts).toDF()
      .select(cid.as("conv_id"), col("turn_idx"), col("role"),
        when(length(col("text")) > 0,
          concat(col("text"), lit(" ~"), cid, lit(":"), col("turn_idx").cast("string")))
          .otherwise(col("text")).as("text"),
        col("tool"), col("ts"))
  }

  /** The same turns under new conversation ids: repeated content. */
  def relabel(df: DataFrame, label: String): DataFrame =
    df.withColumn("conv_id", concat(col("conv_id"), lit(label)))

  private val Vocab = ("batch part spark line column order small sort fast value scan " +
    "hash slow group agg filter query big key window row table stream merge data " +
    "vector join customer the a of and to in is that it").split(" ")
  private val Langs = Seq("en" -> 60, "de" -> 10, "fr" -> 10, "es" -> 10, "zh" -> 10)
    .flatMap { case (l, w) => Seq.fill(w)(l) }

  /** `documents` in the shape the curation queries read (doc_id, text, lang,
    * source, n_chars), `n` rows.
    */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val words = 8 + rnd.nextInt(92)
      val text = Seq.fill(words)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      (i.toLong, text, Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(20)}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** `embeddings` (vec_id, embedding float[64], label): `n` vectors around
    * eight seeded centroids, label = centroid.
    */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val centroids = Array.fill(8, 64)(rnd.nextGaussian() * 0.15)
    (0 until n).map { i =>
      val label = rnd.nextInt(8)
      val v = centroids(label).map(c => (c + rnd.nextGaussian() * 0.08).toFloat)
      (i.toLong, v.toSeq, label)
    }.toDF("vec_id", "embedding", "label")
  }
}
