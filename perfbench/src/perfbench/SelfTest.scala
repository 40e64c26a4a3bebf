package perfbench

/** Self-tests of the harness's own arithmetic: quantiles, span self
  * time and listener-to-span attribution. No Spark session is started.
  *
  * Run: python3 perfbench/run.py --self-test
  */
object SelfTest {

  private var failures = 0
  private def expect(what: String)(ok: Boolean): Unit =
    if (ok) println(s"ok   $what") else { failures += 1; println(s"FAIL $what") }
  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // quantiles: type-7 interpolation, median of even n is the midpoint
    expect("median of odd n")(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    expect("median of even n")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    expect("q0 / q1 are min / max")(
      Stats.quantile(Seq(7.0, 2.0, 9.0), 0.0) == 2.0 && Stats.quantile(Seq(7.0, 2.0, 9.0), 1.0) == 9.0)
    val hundred = (1 to 100).map(_.toDouble)
    expect("p90 of 1..100")(near(Stats.quantile(hundred, 0.9), 90.1))
    expect("quartiles match Python's inclusive method")(
      near(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25), 2.0) &&
        near(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.75), 4.0))
    expect("single sample")(Stats.quantile(Seq(3.0), 0.9) == 3.0)
    expect("supported percentile needs ten samples beyond it")(
      Stats.supportedPercentile(100).contains(90) && Stats.supportedPercentile(20).contains(50) &&
        Stats.supportedPercentile(19).isEmpty && Stats.supportedPercentile(1000).contains(99))

    // self time: children clipped to the parent, overlaps counted once
    expect("no children: self = duration")(Stats.selfTime(0, 10, Nil) == 10)
    expect("sequential children")(Stats.selfTime(0, 10, Seq((1L, 3L), (5L, 9L))) == 4)
    expect("overlapping children count once")(Stats.selfTime(0, 10, Seq((1L, 6L), (4L, 8L))) == 3)
    expect("child past the parent's end is clipped")(Stats.selfTime(0, 10, Seq((8L, 15L))) == 8)
    val spans = Seq(Span(1, 0, "cycle", "r", 0, 100), Span(2, 1, "tick", "r", 10, 90),
      Span(3, 2, "stage:a", "r", 20, 40), Span(4, 2, "stage:b", "r", 40, 80))
    val self = Tracer.selfTimes(spans)
    expect("span tree self times")(self == Map(1 -> 20L, 2 -> 20L, 3 -> 20L, 4 -> 40L))
    expect("self times sum to the root's wall")(self.values.sum == 100L)

    // attribution: jobs → their group → span; shared stages stay with
    // the job that listed them first; unknown groups → span 0
    val c = new SparkCounters
    c.recordJobStart(0, Seq(0, 1), Tracer.group(3))
    c.recordJobStart(1, Seq(1, 2), Tracer.group(4))
    c.recordJobStart(2, Seq(3), "stream-run-id")
    c.recordJobStart(3, Seq(4), "")
    c.recordTask(0, Counters(tasks = 1, taskRunMs = 5, inputBytes = 100))
    c.recordTask(1, Counters(tasks = 1, taskRunMs = 7))
    c.recordTask(2, Counters(tasks = 1, taskRunMs = 11, shuffleReadBytes = 3))
    c.recordTask(3, Counters(tasks = 2, taskRunMs = 13))
    c.recordTask(4, Counters(tasks = 1, taskRunMs = 17))
    val spanOf: String => Option[Int] = g =>
      Tracer.parse(g).orElse(if (g == "stream-run-id") Some(2) else None)
    val by = c.bySpan(spanOf)
    expect("stage shared by two jobs charges the first")(
      by(3) == Counters(jobs = 1, tasks = 2, taskRunMs = 12, inputBytes = 100))
    expect("second job keeps only its own stage")(
      by(4) == Counters(jobs = 1, tasks = 1, taskRunMs = 11, shuffleReadBytes = 3))
    expect("streaming run id binds to its span")(by(2) == Counters(jobs = 1, tasks = 2, taskRunMs = 13))
    expect("ungrouped job is unattributed")(by(0) == Counters(jobs = 1, tasks = 1, taskRunMs = 17))
    expect("attribution conserves totals")(by.values.foldLeft(Counters())(_ + _) == c.total)
    val inc = Tracer.inclusive(spans, by)
    expect("inclusive counters roll up the tree")(
      inc(1).taskRunMs == 12 + 11 + 13 && inc(2).taskRunMs == 13 + 12 + 11 &&
        inc(3).taskRunMs == 12 && inc(4).taskRunMs == 11)
    expect("busy ratio")(near(Counters.busyRatio(8.0, 4.0, 4), 0.5))

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
