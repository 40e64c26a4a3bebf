package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.util.Random

/** The inputs of the daily and serve workloads, and the seeded choices
  * made from them.
  *
  * The corpus is the repository's sf0.1 `documents` (5,000 rows) and
  * `embeddings` (2,000 rows) test tables, kept as parquet in
  * `perfbench/data`. An embedding's `vec_id` is the `doc_id` it belongs
  * to, as [[graft.app.DailyMaintenance.main]] reads them; the vectors are
  * the data set's own and do not derive from the text.
  */
object Data {

  /** The documents, in the columns the engine's text operators take. */
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** The embeddings as `DailyMaintenance` takes them: (id, vec). */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** Split the document ids into a fixed history (the first `n` of a
    * permutation drawn from `seed`) and the pool the days draw from. */
  def split(ids: Seq[Long], n: Int, seed: Long): (Seq[Long], Seq[Long]) =
    new Random(seed).shuffle(ids.sorted).splitAt(n)

  /** One day's document ids: the first `n` of a seeded permutation of
    * the pool. */
  def day(pool: Seq[Long], n: Int, seed: Long): Seq[Long] =
    new Random(seed).shuffle(pool.sorted).take(n)

  /** The corpus vocabulary, most frequent word first (by document
    * frequency, ties by the word). Tokens are split on spaces, as
    * `TextOps.tokens` splits them. */
  def vocabulary(texts: Seq[String]): IndexedSeq[String] =
    texts.flatMap(_.split(" ").filter(_.nonEmpty).distinct)
      .groupBy(identity).toSeq
      .sortBy { case (w, occ) => (-occ.size, w) }
      .map(_._1).toIndexedSeq

  /** Zipf(s) sampler over ranks [0, n). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(rnd: Random): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** `n` queries of 1–4 distinct terms, Zipf-skewed over `vocab` by
    * rank, ids from `firstId`. Query i has 1 + i mod 4 terms: a query's
    * cost grows with its term count, so the seed picks the terms but not
    * how many. */
  def queries(seed: Long, n: Int, vocab: IndexedSeq[String],
              firstId: Long = 0L): Seq[(Long, Seq[String])] = {
    val rnd = new Random(seed * 131 + 17)
    val zipf = new Zipf(vocab.size, 1.0)
    (0 until n).map { i =>
      val k = math.min(vocab.size, 1 + i % 4)
      val terms = Iterator.continually(vocab(zipf.sample(rnd))).distinct.take(k).toSeq
      (firstId + i, terms)
    }
  }
}
