package perfbench

/** The measurement loop every workload shares. */
object Loop {

  /** A tracer that records nothing (warm-up and set-up work). */
  def off(ctx: Ctx): Tracer = new Tracer(ctx.spark.sparkContext, enabled = false, run = "off")

  /** Run `rep(traced)` until `ctx.seconds` have passed and at least
    * `minReps` reps are done, but no more than `maxReps`. In a traced run each rep is traced inside
    * a `cycle` span. The listener totals over the loop add to the run's
    * measured region (traced, its `spark.*` per-layer metrics).
    */
  def measure[T](ctx: Ctx, minReps: Int, maxReps: Int = Int.MaxValue)(rep: Boolean => T): Seq[T] = {
    ctx.drain()
    val c0 = ctx.counters.total
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[T]
    var n = 0
    while (n < maxReps && (n < minReps || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      out += (if (ctx.traced) ctx.tracer.span("cycle")(rep(true)) else rep(false))
      n += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    ctx.drain()
    ctx.addRegion(ctx.counters.total - c0, wallS)
    out.result()
  }
}
