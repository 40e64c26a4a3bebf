package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat_ws}
import graft.operators.{Corpus, Retrieval, Similarity}
import scala.collection.mutable

/** The serve tier's read side: one closed-loop client replays a seeded
  * query mix against a store's indexes (doc BM25, doc IVF, chunk BM25
  * and chunk IVF on one window grid) — single `queryBm25Index`,
  * `hybridSearch` and `hybridSearchChunks` calls, then one batched
  * many-query `hybridSearch` call per pass. Query terms are drawn from
  * the corpus vocabulary; query vectors come from [[Corpus.hashEmbed]]
  * of those terms. The document vectors are the corpus's own embeddings
  * ([[Data]]), which share no encoder with the queries, so the ANN arm
  * ranks by geometry alone, as it does on the source data set.
  */
object ServeTier {

  /** Rounds of the three single ops per timed pass; a warm-up pass runs
    * one. */
  val Rounds = 2
  val BatchQueries = 32
  val K = 10
  /** Untimed passes first: they pay the serve path's JIT and codegen,
    * which a long-lived server pays once, not per query. */
  val WarmPasses = 1
  /** Timed passes, at least; more while `--seconds` has not passed. */
  val MinPasses = 1
  val Ops = Seq("bm25", "hybrid", "chunk_hybrid")

  final case class Query(id: Long, terms: Seq[String], vec: Seq[Double])

  final case class Call(op: String, qi: Int, planMs: Double, execMs: Double,
                        inputBytes: Long, digest: String, span: Int) {
    def ms: Double = planMs + execMs
  }

  /** Index dirs each op reads. */
  private def dirs(idx: String, op: String): Seq[String] = op match {
    case "bm25" => Seq(s"$idx/bm25")
    case "chunk_hybrid" => Seq(s"$idx/chunks", s"$idx/chunk_ivf")
    case _ => Seq(s"$idx/bm25", s"$idx/ivf")
  }

  /** The seeded query mix, embedded (part of the workload's set-up). */
  def queries(ctx: Ctx, vocab: IndexedSeq[String]): Seq[Query] =
    embed(ctx, Data.queries(ctx.seed, Rounds * Ops.size + BatchQueries, vocab))

  /** Medians over the timed passes, with their sample counts. */
  final case class Result(passS: Double, singleMsP50: Double, batchQps: Double,
                          bytesPerIndexByte: Double, singles: Int, batches: Int)

  private def pass(ctx: Ctx, idx: String, queries: Seq[Query], traced: Boolean,
                   rounds: Int = Rounds) = {
    val (singles, batch) = queries.splitAt(Rounds * Ops.size)
    val r = Clock.time(replay(ctx, idx, singles.take(rounds * Ops.size), batch, traced))
    ctx.log(f"serve pass (traced=$traced): ${r._2}%.2fs " +
      r._1.map(c => f"${c.op}=${c.ms}%.0f").mkString(" "))
    r
  }

  /** Replay the mix against the indexes under `idx`: untimed warm-up
    * passes of one round, then timed passes of all rounds; fills the
    * per-layer serve metrics when traced. */
  def run(ctx: Ctx, idx: String, queries: Seq[Query]): Result = {
    val indexBytes = (Ops :+ "batch").map(o => o -> dirs(idx, o).map(Fs.du).sum).toMap
    val singles = queries.take(Rounds * Ops.size)
    val warm = (0 until WarmPasses).map(_ => pass(ctx, idx, queries, traced = false, rounds = 1))
    val timed = Loop.measure(ctx, MinPasses)(pass(ctx, idx, queries, _))

    // every op's answer must repeat exactly across passes, warm-up included
    (warm ++ timed).flatMap(_._1).groupBy(c => (c.op, c.qi)).foreach { case ((op, qi), cs) =>
      ctx.check(s"$op query $qi digest stable across passes")(cs.map(_.digest).distinct.size == 1)
    }
    val calls = timed.flatMap(_._1)
    val singleCalls = calls.filter(c => Ops.contains(c.op))
    val batchCalls = calls.filter(_.op == "batch")

    if (ctx.traced) {
      ctx.drain()
      val inclusive = Tracer.inclusive(ctx.tracer.spans,
        ctx.counters.bySpan(ctx.tracer.spanOf))
      (Ops :+ "batch").foreach { op =>
        val cs = calls.filter(_.op == op)
        val cnt = cs.map(c => inclusive.getOrElse(c.span, Counters()))
        ctx.perLayer ++= Seq(
          s"serve.$op.plan_ms" -> Stats.median(cs.map(_.planMs)),
          s"serve.$op.exec_ms" -> Stats.median(cs.map(_.execMs)),
          s"serve.$op.spark_jobs" -> Stats.median(cnt.map(_.jobs.toDouble)),
          s"serve.$op.input_bytes" -> Stats.median(cnt.map(_.inputBytes.toDouble)),
          s"serve.$op.scan_ratio" -> Stats.median(cnt.map(_.inputBytes.toDouble / indexBytes(op))))
      }
      Seq("lex_arm", "ann_arm").foreach { arm =>
        ctx.perLayer(s"serve.hybrid.${arm}_ms") = Stats.median(calls.filter(_.op == arm).map(_.ms))
      }
    }

    ctx.detail ++= Seq(
      "serve_input" -> Map("index_bytes" -> indexBytes, "single_queries_per_pass" -> singles.size,
        "batch_queries_per_call" -> BatchQueries, "k" -> K),
      "serve_warmup_passes_excluded_s" -> warm.map(_._2),
      "serve_per_op" -> (Ops :+ "batch").map { op =>
        val ms = calls.filter(_.op == op).map(_.ms)
        op -> Map("samples" -> ms.size, "p50_ms" -> Stats.median(ms),
          "supported_percentile" -> Stats.supportedPercentile(ms.size),
          "supported_percentile_ms" -> Stats.supportedPercentile(ms.size)
            .map(p => Stats.quantile(ms, p / 100.0)))
      }.toMap,
      "serve_passes" -> timed.size)
    Result(Stats.median(timed.map(_._2)), Stats.median(singleCalls.map(_.ms)),
      BatchQueries / (Stats.median(batchCalls.map(_.ms)) / 1e3),
      Stats.median(singleCalls.map(c => c.inputBytes.toDouble / indexBytes(c.op))),
      singleCalls.size, batchCalls.size)
  }

  /** The client's query vectors, from the index encoder. */
  private def embed(ctx: Ctx, qs: Seq[(Long, Seq[String])]): Seq[Query] = {
    val spark = ctx.spark
    import spark.implicits._
    val raw = qs.toDF("query_id", "terms")
    val vecs = Corpus.hashEmbed(raw, col("query_id"), concat_ws(" ", col("terms")))
      .as[(Long, Seq[Double])].collect().toMap
    qs.map { case (id, terms) => Query(id, terms, vecs(id)) }
  }

  private def frame(ctx: Ctx, qs: Seq[Query]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    qs.map(q => (q.id, q.terms, q.vec)).toDF("query_id", "terms", "vec")
  }

  /** One pass of the closed loop: each call's plan (the public call
    * returning its lazy DataFrame) and execution timed apart. */
  private def replay(ctx: Ctx, idx: String, singles: Seq[Query], batch: Seq[Query],
                     traced: Boolean): Seq[Call] = {
    val spark = ctx.spark
    val tr = if (traced) ctx.tracer else Loop.off(ctx)
    val out = mutable.ArrayBuffer.empty[Call]
    def call(op: String, qi: Int)(plan: => DataFrame): Unit = {
      ctx.drain()
      val before = ctx.counters.total.inputBytes
      tr.span(s"op:$op") {
        val (df, p) = Clock.time(ctx.op(s"$op plan")(plan))
        val (rows, e) = Clock.time(ctx.op(s"$op exec")(df.collect()))
        out += Call(op, qi, 1e3 * p, 1e3 * e, 0L, digest(rows), tr.lastId)
      }
      ctx.drain()
      out(out.size - 1) = out.last.copy(inputBytes = ctx.counters.total.inputBytes - before)
    }
    singles.zipWithIndex.foreach { case (q, i) =>
      Ops(i % Ops.size) match {
        case "bm25" =>
          call("bm25", i)(Retrieval.queryBm25Index(spark, s"$idx/bm25", q.terms, K))
        case "hybrid" =>
          call("hybrid", i)(Retrieval.hybridSearch(spark, s"$idx/bm25", s"$idx/ivf",
            frame(ctx, Seq(q)), K))
          if (traced) {
            // the two arms hybridSearch fuses, each through its own call
            call("lex_arm", i)(Retrieval.queryBm25IndexMany(spark, s"$idx/bm25",
              frame(ctx, Seq(q)).select("query_id", "terms"), 20))
            call("ann_arm", i)(Similarity.queryIvfIndex(spark, s"$idx/ivf",
              frame(ctx, Seq(q)).select(col("query_id").as("id"), col("vec")), 20))
          }
        case op =>
          call(op, i)(Retrieval.hybridSearchChunks(spark, s"$idx/chunks", s"$idx/chunk_ivf",
            frame(ctx, Seq(q)), K))
      }
    }
    call("batch", -1)(Retrieval.hybridSearch(spark, s"$idx/bm25", s"$idx/ivf",
      frame(ctx, batch), K))
    out.toSeq
  }

  private def digest(rows: Array[Row]): String =
    Digest.sha(rows.map(_.toSeq.map(Digest.cell).mkString("|")).mkString("\n"))
}
