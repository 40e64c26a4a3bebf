package perfbench

import java.io.{File, PrintWriter}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** Builds the day-0 fixture the daily and serve workloads start from:
  * a fixed history drawn from the corpus ([[Data]]; the same for every
  * seed) and the store its build tick leaves — every index, signal
  * table and model of [[graft.app.DailyMaintenance]] built once. It is
  * made with the program under test, once per build, because a cold
  * build tick costs more than a whole benchmark run may.
  *
  * Usage: perfbench.Fixture --data <corpus dir> --out <dir>
  * Writes <dir>/corpus/{documents,embeddings} (the history),
  * <dir>/pool.txt (the document ids the days draw from),
  * <dir>/vocab.txt (the history's vocabulary, most frequent first),
  * <dir>/store and <dir>/fixture.json (the build tick's wall and stage
  * times).
  */
object Fixture {

  val Seed = 0x5eedL

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val out = new File(a("out")).getAbsolutePath
    val data = new File(a("data")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Ctx.session(cores, s"$out/scratch")
    val ctx = new Ctx(spark, new SparkCounters, new Tracer(spark.sparkContext, false, "fixture"),
      out, Seed, 0.0, cores, traced = false)
    import spark.implicits._
    val docs = Data.documents(spark, data)
    val ids = docs.select("doc_id").as[Long].collect().toSeq
    val (history, pool) = Data.split(ids, DailyChain.HistoryDocs, Seed)
    val keep = col("doc_id").isin(history: _*)
    docs.filter(keep).write.parquet(s"$out/corpus/documents")
    Data.embeddings(spark, data).filter(col("id").isin(history: _*))
      .write.parquet(s"$out/corpus/embeddings")
    write(s"$out/pool.txt", pool.sorted.map(_.toString))
    write(s"$out/vocab.txt",
      Data.vocabulary(docs.filter(keep).select("text").as[String].collect().toSeq))
    val t = DailyChain.tick(ctx, s"$out/store",
      spark.read.parquet(s"$out/corpus/documents"),
      spark.read.parquet(s"$out/corpus/embeddings"), 0, DailyChain.CompactEvery, Loop.off(ctx))
    spark.stop()
    Fs.rm(s"$out/scratch")
    write(s"$out/fixture.json", Seq(Json(mutable.LinkedHashMap(
      "history_documents" -> history.size, "pool_documents" -> pool.size,
      "build_tick_s" -> t.wallS, "stages_s" -> t.stages.toMap,
      "failures" -> ctx.failures.toSeq))))
    System.exit(if (ctx.failed == 0) 0 else 1)
  }

  private def write(path: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(path)
    try lines.foreach(w.println) finally w.close()
  }

  /** The lines of a fixture text file. */
  def lines(path: String): Seq[String] = {
    val s = scala.io.Source.fromFile(path)
    try s.getLines().filter(_.nonEmpty).toList finally s.close()
  }
}
