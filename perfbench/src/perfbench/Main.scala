package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable

/** One benchmark run in its own JVM.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --data <dir> --fixture <dir> --work <dir>
  *          --out <result.json>
  *
  * Writes the result JSON to `--out` (and, when traced, every span as a
  * JSON line next to it). `perfbench/run.py` builds, launches and
  * reports; run that instead of this class.
  */
object Main {

  val Workloads: Map[String, Ctx => Unit] = Map(
    "pinterest_batch" -> PinterestBatch.run,
    "daily_serve" -> DailyChain.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = a("seed").toLong
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val work = new File(a("work")).getAbsolutePath
    new File(work).mkdirs()

    val load0 = Fs.loadavg()
    val spark = Ctx.session(cores, work)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(spark.sparkContext, traced, s"$workload-seed$seed")
    val ctx = new Ctx(spark, counters, tracer, work, seed, a("seconds").toDouble, cores, traced)
    ctx.fixture = new File(a("fixture")).getAbsolutePath
    ctx.data = new File(a("data")).getAbsolutePath

    val (error, wallS) = Clock.time(
      try { run(ctx); None }
      catch { case e: Throwable => e.printStackTrace(); Some(e.toString) })
    try ctx.drain() catch { case _: Exception => () }
    val load1 = Fs.loadavg()

    val region = ctx.regionCounters.metrics(ctx.regionWallS, cores).toMap +
      ("wall_s" -> ctx.regionWallS)
    if (traced) ctx.perLayer ++= ctx.regionCounters.metrics(ctx.regionWallS, cores)
    def regionValue(k: String) = region.getOrElse(k, 0.0)
    val starvation =
      if (regionValue("spark.task_cpu_s") > 0) regionValue("spark.task_run_s") / regionValue("spark.task_cpu_s")
      else 0.0
    val host = mutable.LinkedHashMap[String, Any](
      "cores" -> cores,
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "busy_ratio" -> regionValue("spark.busy_ratio"),
      "task_run_over_cpu" -> starvation,
      "stalled" -> (starvation > 3.0 ||
        Seq(load0, load1).flatMap(_.headOption).exists(_ > 2.0 * cores)))

    val spansFile = a("out").stripSuffix(".json") + ".spans.jsonl"
    if (traced) {
      val (summary, unattributed) = traceSummary(tracer, counters)
      ctx.perLayer("trace.unattributed_share") = unattributed
      ctx.perLayer("trace.bookkeeping_ms") = tracer.overheadNs / 1e6
      ctx.detail("trace") = summary
      val w = new PrintWriter(spansFile)
      try tracer.spans.foreach(s => w.println(Json(mutable.LinkedHashMap(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
      finally w.close()
    }
    try ctx.spark.stop() catch { case _: Exception => () }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> ctx.seconds,
      "trace" -> traced, "wall_s" -> wallS, "error" -> error,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "end_to_end" -> ctx.endToEnd, "per_layer" -> ctx.perLayer,
      "host" -> host, "measured_region" -> region, "detail" -> ctx.detail,
      "spans_file" -> (if (traced) spansFile else null))
    val w = new PrintWriter(a("out"))
    try w.println(Json(result)) finally w.close()
    System.exit(if (error.isEmpty) 0 else 1)
  }

  /** Per span name: count, wall, self time and inclusive listener
    * counters; plus the share of the cycles' wall that no leaf (layer)
    * span covers — the self time of every span that has children.
    */
  def traceSummary(tracer: Tracer, counters: SparkCounters): (Seq[Map[String, Any]], Double) = {
    val spans = tracer.spans
    val self = Tracer.selfTimes(spans)
    val inclusive = Tracer.inclusive(spans, counters.bySpan(tracer.spanOf))
    val summary = spans.groupBy(_.name).toSeq.sortBy(_._2.head.id).map { case (name, ss) =>
      val c = ss.map(s => inclusive(s.id)).foldLeft(Counters())(_ + _)
      val wall = ss.map(_.durNs).sum / 1e9
      Map[String, Any]("name" -> name, "count" -> ss.size, "wall_s" -> wall,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e9) ++ c.metrics(wall, 1).toMap
    }
    val parents = spans.map(_.parent).toSet
    val cycleWall = spans.filter(_.name == "cycle").map(_.durNs).sum
    val unattributed =
      if (cycleWall == 0) 0.0
      else spans.filter(s => parents(s.id)).map(s => self(s.id)).sum.toDouble / cycleWall
    (summary, unattributed)
  }
}
