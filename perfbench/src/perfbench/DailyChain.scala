package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.app.{DailyMaintenance, Scheduler}
import graft.operators.Retrieval
import graft.sources.Versioned
import scala.collection.mutable

/** `daily_serve`: one day of the composed maintenance chain as a
  * deployment runs it — one [[Scheduler.tickStagesFor]] tick per
  * process over [[DailyMaintenance.stages]], on a fake clock — and then
  * the serve tier ([[ServeTier]]) reading the indexes that tick wrote.
  *
  * The store a day appends to is the day-0 fixture ([[Fixture]]: the
  * build tick over a fixed history of the corpus, made once per build).
  * Each run copies it and ticks the next day over a batch the seed
  * draws from the rest of the corpus. With compactEvery = 1 that tick
  * appends to every index and then compacts them all; vacuum runs too.
  * The retrain cadence is weekly, so retrains and rebuilds only run in
  * the fixture's build tick. Write- and read-heavy on the versioned
  * tables and every index module; idle for clean and queries.
  */
object DailyChain {

  val HistoryDocs = 2500
  val DayDocs = 833
  /** Set-up reps of the day's staging: the first pays the JVM's and
    * Spark's first use and is left out of `setup_s`, the median of the
    * rest. */
  val WarmSetups = 1
  val SetupReps = 3
  val Day: Long = 24L * 3600 * 1000
  /** Epoch day of the fixture's build; on the weekly retrain cadence. */
  val BaseDay = 14
  val CompactEvery = 1
  /** The cadence of the single-core baseline tick: appends only. */
  val AppendOnly = Int.MaxValue
  val RetrainEvery = 7
  val RetainVersions = 2

  final case class Tick(wallS: Double, stages: Seq[(String, Double)]) {
    def overheadS: Double = wallS - stages.map(_._2).sum
  }

  /** One scheduler tick for epoch day `BaseDay + d` over `batch`/`vecs`,
    * each stage wrapped in a timer (and a span when `tr` records). */
  def tick(ctx: Ctx, store: String, batch: DataFrame, vecs: DataFrame, d: Int,
           compactEvery: Int, tr: Tracer): Tick = {
    val spark = ctx.spark
    val stageTimes = mutable.ArrayBuffer.empty[(String, Double)]
    val stagesFor: Long => Seq[(String, () => Unit)] = b =>
      DailyMaintenance.stages(spark, batch, vecs, store,
        retainVersions = RetainVersions, compactEvery = compactEvery, boundary = b,
        intervalMs = Day, retrainEvery = RetrainEvery)
        .map { case (name, job) =>
          name -> (() => {
            val t0 = System.nanoTime()
            try tr.span(s"stage:$name")(job())
            finally stageTimes += name -> (System.nanoTime() - t0) / 1e9
          })
        }
    val (res, wallS) = Clock.time(tr.span("tick") {
      ctx.op(s"tick day $d")(Scheduler.tickStagesFor(spark, store, stagesFor,
        nowMs = (BaseDay + d + 1) * Day + 5, intervalMs = Day, retries = 0,
        retryDelayMs = 1L, sleep = _ => ()))
    })
    ctx.log(f"tick day $d: $wallS%.2fs, stages ${stageTimes.map(_._2).sum}%.2fs: " +
      stageTimes.sortBy(-_._2).take(8).map { case (n, t) => f"$n=$t%.1f" }.mkString(" "))
    ctx.check(s"tick day $d ran every stage ok")(
      res.nonEmpty && res.forall(_._2.lastOption.exists(_.ok)))
    Tick(wallS, stageTimes.toSeq)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val fixture = ctx.fixture
    val pool = Fixture.lines(s"$fixture/pool.txt").map(_.toLong)
    val vocab = Fixture.lines(s"$fixture/vocab.txt").toIndexedSeq
    val dayIds = Data.day(pool, DayDocs, ctx.seed * 1000003L + 1)
    // the client's query vectors, made once and not timed
    val queries = ServeTier.queries(ctx, vocab)
    // set-up: stage the day's batch several times, the last rep's copy
    // is the one the run uses. The store copy is file plumbing, not
    // seeded work, and is timed apart: its wall follows the host's
    // file-system load more than anything the program does.
    val reps = WarmSetups + SetupReps
    val setupsAll = (0 until reps).map { k =>
      val s = Clock.secs {
        Data.documents(spark, ctx.data).filter(col("doc_id").isin(dayIds: _*))
          .write.parquet(s"${ctx.work}/input$k/documents")
        Data.embeddings(spark, ctx.data).filter(col("id").isin(dayIds: _*))
          .write.parquet(s"${ctx.work}/input$k/embeddings")
      }
      if (k < reps - 1) Fs.rm(s"${ctx.work}/input$k")
      s
    }
    val setups = setupsAll.drop(WarmSetups)
    val store = s"${ctx.work}/store"
    val input = s"${ctx.work}/input${reps - 1}"
    val storeCopyS = Clock.secs(Fs.copy(s"$fixture/store", store))
    def batchAt(dir: String) = ctx.spark.read.parquet(s"$dir/documents")
    def vecsAt(dir: String) = ctx.spark.read.parquet(s"$dir/embeddings")
    val dayVecs = vecsAt(input).count()
    val tr = if (ctx.traced) ctx.tracer else Loop.off(ctx)

    val (filesBefore, commitsBefore) = (Fs.dataFiles(store), versionedState(ctx, store))
    // one tick per run: a deployment runs one tick per process
    val t = Loop.measure(ctx, 1, maxReps = 1)(_ =>
      tick(ctx, store, batchAt(input), vecsAt(input), 1, CompactEvery, tr)).head
    val commitsAfter = versionedState(ctx, store)
    val storeBytes = Fs.du(store)
    tr.span("checks")(checks(ctx, store, batchAt(s"$fixture/corpus").unionByName(batchAt(input)),
      vocab))
    val serve = ServeTier.run(ctx, store, queries)

    val inputBytes = Fs.du(s"$fixture/corpus") + Fs.du(input)
    ctx.endToEnd ++= Seq(
      "setup_s" -> Stats.median(setups),
      "cycle_s" -> t.wallS,
      "step_ms_p50" -> serve.singleMsP50,
      "rate_per_s" -> serve.batchQps,
      "bytes_per_input_byte" -> storeBytes.toDouble / inputBytes)

    if (ctx.traced) {
      ctx.perLayer ++= t.stages.map { case (s, v) => s"app.stage.${s}_s" -> v }
      ctx.perLayer ++= Seq(
        "app.scheduler_overhead_s" -> t.overheadS,
        "sources.versioned.commits" -> (commitsAfter.values.map(_._1).sum -
          commitsBefore.values.map(_._1).sum).toDouble,
        "sources.versioned.bytes_written" -> commitsAfter.map { case (tb, (_, b)) =>
          b - commitsBefore.get(tb).fold(0L)(_._2) }.sum.toDouble,
        "sources.versioned.files_live" -> Fs.dataFiles(store).toDouble)
      // single-core baseline: the day's tick again, append stages only,
      // warm, on nproc cores and then on one core (fresh store copies)
      def again(k: Int) = {
        Fs.copy(s"$fixture/store", s"${ctx.work}/again$k")
        tick(ctx, s"${ctx.work}/again$k", batchAt(input), vecsAt(input), 1, AppendOnly,
          Loop.off(ctx)).wallS
      }
      val warm = again(0)
      ctx.restart(1)
      val single = again(1)
      ctx.perLayer("spark.parallel_speedup") = single / warm
      ctx.detail("parallel_baseline_append_tick_s") =
        Map(s"local[${ctx.cores}]" -> warm, "local[1]" -> single)
    }

    ctx.detail ++= Seq(
      "input" -> Map("history_documents" -> HistoryDocs, "day_documents" -> dayIds.size,
        "day_embeddings" -> dayVecs, "vocabulary" -> vocab.size,
        "input_parquet_bytes" -> inputBytes,
        "store_bytes_before" -> Fs.du(s"$fixture/store"), "store_bytes_after" -> storeBytes),
      "setup_reps_s" -> setups,
      "setup_warmup_reps_excluded_s" -> setupsAll.take(WarmSetups),
      "setup_store_copy_s" -> storeCopyS,
      "warmup_reps_excluded" -> Nil,
      "tick" -> Map("wall_s" -> t.wallS, "stage_sum_s" -> t.stages.map(_._2).sum,
        "scheduler_overhead_s" -> t.overheadS, "stages_s" -> t.stages.toMap,
        "data_files_before" -> filesBefore, "data_files_after" -> Fs.dataFiles(store)),
      "serve_pass_s" -> serve.passS,
      "serve_bytes_read_per_index_byte" -> serve.bytesPerIndexByte,
      "samples" -> Map("cycle_s" -> 1, "step_ms_p50" -> serve.singles,
        "rate_per_s" -> serve.batches, "bytes_per_input_byte" -> 1))
  }

  /** (commit count, bytes committed) per existing maintained table. */
  private def versionedState(ctx: Ctx, store: String): Map[String, (Long, Long)] =
    DailyMaintenance.maintainedTables(store)
      .filter(t => new java.io.File(t).exists() && Versioned.exists(ctx.spark, t))
      .map { t =>
        val h = Versioned.historyStats(ctx.spark, t)
        t -> (h.size.toLong, h.map(_._5).filter(_ > 0).sum)
      }.toMap

  /** Every stage and the coverage marker have an ok row for both days;
    * the multi-table indexes are in version lockstep; the maintained
    * BM25 index answers like inline BM25 over the union corpus. */
  private def checks(ctx: Ctx, store: String, union: DataFrame,
                     vocab: IndexedSeq[String]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val stageNames = DailyMaintenance.stages(spark, union, union, store).map(_._1) :+
      Scheduler.CoveredStage
    val okRows = Versioned.read(spark, s"$store/runs").filter(col("ok"))
      .select("boundary_ms", "stage").as[(Long, String)].collect().toSet
    ctx.check("runs: an ok row per stage and boundary")(
      Seq(0, 1).forall(d => stageNames.forall(s => okRows.contains(((BaseDay + d) * Day, s)))))
    def lockstep(dir: String, tables: Seq[String]) =
      tables.map(t => Versioned.latestVersion(spark, s"$store/$dir/$t")).distinct.size == 1
    ctx.check("indexes in version lockstep")(
      lockstep("bm25", Seq("postings", "stats")) &&
        lockstep("chunks", Seq("postings", "stats")) &&
        lockstep("ivf", Seq("centroids", "assignment")) &&
        lockstep("chunk_ivf", Seq("centroids", "assignment")) &&
        lockstep("chunk_pq", Seq("vectors", "centroids", "codebook", "assignment")))
    Data.queries(ctx.seed, 2, vocab).foreach { case (qid, terms) =>
      def rows(df: DataFrame) = df.select("doc_id", "score").as[(Long, Double)].collect()
        .map { case (d, s) => (d, math.round(s * 1e9)) }.toSeq
      ctx.check(s"maintained bm25 = bm25TopK over the union, query $qid")(
        rows(Retrieval.queryBm25Index(spark, s"$store/bm25", terms, 10)) ==
          rows(Retrieval.bm25TopK(union, col("doc_id"), col("text"), terms, 10)))
    }
  }
}
