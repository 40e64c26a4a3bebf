package perfbench

import org.apache.spark.sql.DataFrame
import graft.app.PinterestPipeline
import graft.clean.{Cleaners, Schemas}
import graft.sources.{Emulator, Sinks, Sources}
import graft.streaming.StreamJobs
import scala.collection.mutable

/** `pinterest_batch`: the paper's daily job over a seeded emulator
  * backlog of dirty pin/geo/user triples. One rep is the batch job
  * (JSON scan → clean → the six reference queries → parquet) and then a
  * streaming drain of the same backlog through a fresh checkpoint. An
  * untimed rep comes first; the timed reps after it are warm, as in a
  * long-lived driver that runs the job every day. It touches sources,
  * clean, queries and streaming, and never the versioned tables or the
  * index operators.
  */
object PinterestBatch {

  val Records = 20000
  val FilesPerTable = 8
  /** Set-up reps: the first pays the JVM's first use of the emulator
    * and is left out of `setup_s`, the median of the rest. */
  val WarmSetups = 1
  val SetupReps = 5
  /** Untimed reps before timing: the first pays class loading, JIT and
    * codegen. */
  val WarmReps = 1
  /** Timed reps, at least; more while `--seconds` has not passed. */
  val MinReps = 2
  val Tables = Seq("pin", "geo", "user")
  val Queries = Seq("q1", "q2", "q3a", "q3b", "q4", "q5")

  private def schema(t: String) = t match {
    case "pin" => Schemas.rawPin
    case "geo" => Schemas.rawGeo
    case _ => Schemas.rawUser
  }
  private def cleaner(t: String): DataFrame => DataFrame = t match {
    case "pin" => Cleaners.pin
    case "geo" => Cleaners.geo
    case _ => Cleaners.user
  }

  final case class Rep(jobS: Double, drainS: Double, queryS: Seq[Double],
                       layer: Map[String, Double])

  def run(ctx: Ctx): Unit = {
    val work = ctx.work
    val setupsAll = (0 until WarmSetups + SetupReps).map(k => Clock.secs {
      Emulator.write(s"$work/raw$k", Records, seed = ctx.seed, filesPer = FilesPerTable)
    })
    val setups = setupsAll.drop(WarmSetups)
    val raw = s"$work/raw0"
    (1 until WarmSetups + SetupReps).foreach(k => Fs.rm(s"$work/raw$k"))
    val inputBytes = Fs.du(raw)

    // the timed reps come after the warm-up reps, and each must write
    // what the first warm-up rep wrote
    val warmups = (0 until WarmReps).map(_ => rep(ctx, raw, Records, traced = false))
    val warmDigest = warmups.head._2
    warmups.tail.foreach { case (_, d) =>
      ctx.check("batch outputs of warm-up reps identical")(d == warmDigest)
    }
    val reps = Loop.measure(ctx, if (ctx.traced) 1 else MinReps)(t => rep(ctx, raw, Records, t))
    reps.zipWithIndex.foreach { case ((_, d), i) =>
      ctx.check(s"batch outputs of timed rep $i = warm-up rep's")(d == warmDigest)
    }

    val timed = reps.map(_._1)
    val outBytes = Seq("out", "stream", "ckpt").map(d => Fs.du(s"$work/rep/$d")).sum
    ctx.endToEnd ++= Seq(
      "setup_s" -> Stats.median(setups),
      "cycle_s" -> Stats.median(timed.map(r => r.jobS + r.drainS)),
      "step_ms_p50" -> 1e3 * Stats.median(timed.flatMap(_.queryS)),
      "rate_per_s" -> 3.0 * Records / Stats.median(timed.map(_.jobS)),
      "bytes_per_input_byte" -> outBytes.toDouble / inputBytes)

    if (ctx.traced) {
      val layers = timed.map(_.layer)
      layers.head.keys.foreach { k =>
        ctx.perLayer(k) = Stats.median(layers.map(_.getOrElse(k, 0.0)))
      }
      // the rep again, untraced, on nproc cores and then on one core;
      // both must write what the warm-up rep wrote
      def again() = {
        val (r, digest) = rep(ctx, raw, Records, traced = false)
        ctx.check("batch outputs identical across reps")(digest == warmDigest)
        r.jobS + r.drainS
      }
      val warm = again()
      ctx.restart(1)
      val single = again()
      ctx.perLayer("spark.parallel_speedup") = single / warm
      ctx.detail("parallel_baseline_rep_s") = Map(s"local[${ctx.cores}]" -> warm, "local[1]" -> single)
    }
    ctx.detail ++= Seq(
      "input" -> Map("records_per_table" -> Records, "files_per_table" -> FilesPerTable,
        "raw_json_bytes" -> inputBytes),
      "setup_reps_s" -> setups,
      "setup_warmup_reps_excluded_s" -> setupsAll.take(WarmSetups),
      "warmup_reps_excluded" -> warmups.map { case (r, _) => Map("job_s" -> r.jobS, "drain_s" -> r.drainS) },
      "timed_reps" -> timed.map(r => Map("job_s" -> r.jobS, "drain_s" -> r.drainS)),
      "samples" -> Map("cycle_s" -> timed.size, "step_ms_p50" -> timed.flatMap(_.queryS).size,
        "rate_per_s" -> timed.size, "bytes_per_input_byte" -> 1),
      "check_dirs" -> Map("raw" -> raw, "out" -> s"$work/rep/out"))
  }

  /** One rep into a clean `rep/` dir; returns its timings and the digest
    * of its six query outputs (read back outside the timed region). */
  private def rep(ctx: Ctx, raw: String, n: Int, traced: Boolean): (Rep, String) = {
    val spark = ctx.spark
    val tr = if (traced) ctx.tracer else Loop.off(ctx)
    val dir = s"${ctx.work}/rep"
    Fs.rm(dir)
    val layer = mutable.LinkedHashMap.empty[String, Double]

    val (_, jobS) = Clock.time(tr.span("batch_job") {
      if (traced) {
        // force each prefix with a noop write so scan and clean get
        // their own time; the queries below still run from the raw JSON.
        // The probes run twice and the second, warm, pass is kept: cold,
        // a table's scan pays first-use costs its clean then skips, and
        // clean minus scan comes out below zero.
        def probe(t: Tracer) = Tables.map { tb =>
          val scan = t.timed(s"sources.json_scan:$tb")(
            noop(Sources.json(spark, s"$raw/$tb", schema(tb))))
          val clean = t.timed(s"clean:$tb")(
            noop(cleaner(tb)(Sources.json(spark, s"$raw/$tb", schema(tb)))))
          (tb, scan, clean)
        }
        tr.span("probe_warmup")(probe(Loop.off(ctx)))
        val warm = probe(tr)
        layer("sources.json_scan_s") = warm.map(_._2).sum
        warm.foreach { case (tb, scan, clean) => layer(s"clean.${tb}_s") = clean - scan }
      }
      val r = ctx.op("PinterestPipeline.run")(PinterestPipeline.run(spark, raw))
      Seq(r.q1, r.q2, r.q3a, r.q3b, r.q4, r.q5).zip(Queries).foreach { case (df, q) =>
        layer(s"queries.${q}_s") = tr.timed(s"queries:$q")(
          ctx.op(s"Sinks.parquet $q")(Sinks.parquet(df, s"$dir/out/$q")))
      }
    })

    val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val (_, drainS) = Clock.time(tr.span("stream_drain") {
      Tables.foreach { t =>
        layer(s"streaming.${t}_s") = tr.timed(s"streaming:$t") {
          ctx.op(s"StreamJobs.cleanToParquet $t") {
            val q = StreamJobs.cleanToParquet(spark, s"$raw/$t", schema(t), cleaner(t),
              s"$dir/stream/$t", s"$dir/ckpt/$t")
            tr.bindStream(q.runId.toString)
            q.awaitTermination()
            progress ++= q.recentProgress
          }
        }
      }
    })
    if (traced) {
      def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum.toDouble
      layer("streaming.micro_batches") = progress.count(_.numInputRows > 0).toDouble
      layer("streaming.planning_ms") = dur("queryPlanning")
      layer("streaming.wal_commit_ms") = dur("walCommit")
      layer("streaming.add_batch_ms") = dur("addBatch")
    }

    val digest = tr.span("checks") {
      Tables.foreach { t =>
        ctx.check(s"stream drain $t row count")(
          spark.read.parquet(s"$dir/stream/$t").count() == n.toLong)
      }
      Digest.sha(Queries.map(q => Digest.of(spark.read.parquet(s"$dir/out/$q"))).mkString)
    }
    ctx.log(f"rep (traced=$traced): job $jobS%.2fs, drain $drainS%.2fs")
    (Rep(jobS, drainS, Queries.map(q => layer(s"queries.${q}_s")), layer.toMap), digest)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
